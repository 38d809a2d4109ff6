package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CCNet-style n-gram language-model perplexity filtering (Wenzek et
  * al., "CCNet: Extracting High Quality Monolingual Datasets from Web
  * Crawl Data", LREC 2020): fit a smoothed n-gram LM on a clean
  * reference corpus, score every candidate document by perplexity,
  * and partition the corpus into head/middle/tail quality tiers at
  * per-corpus perplexity percentiles — the quality gate the major web
  * corpora (CCNet, RedPajama, FineWeb lineage) actually apply, and a
  * different signal from the heuristic ratio gates
  * ([[TextAnalysis.qualityScore]], [[Curation]]'s Gopher rules):
  * those measure surface statistics, this measures how predictable
  * the text is under a reference distribution.
  *
  * The model here is an add-one-smoothed BIGRAM LM (CCNet uses KenLM
  * 5-gram; the order is a fidelity knob, not a shape change — a
  * higher order is the same fit/join/score dataflow over longer gram
  * keys). Everything is exact integer counts + ln/exp at score time,
  * so a SQL engine replays it bit-for-bit modulo the documented
  * 6-decimal quantization guard.
  *
  * Scale shape: the fit is two token-keyed aggregations over the
  * reference corpus (counts shuffle, never text). The model is
  * vocabulary-bounded, so scoring BROADCASTS it: each candidate doc's
  * transition multiset joins the counts map-side, one doc-keyed
  * aggregation folds the log-probs, and the tier cuts are two
  * percentile values from a one-pass sketch ([[Sketches]]' GK shape —
  * exact at oracle accuracy) broadcast back onto the scored relation.
  * No global sort, no driver loop; at 100 TB the corpus is touched
  * once to score and once to tier.
  */
object LangModel {

  /** Fitted bigram model: unigram counts (tok, cnt), bigram counts
    * (tok1, tok2, cnt), and the vocabulary size used by add-one
    * smoothing. Both relations are vocabulary-bounded — persist them
    * as parquet and reload to amortize the fit, like the BM25 and ANN
    * indexes.
    */
  final case class BigramLm(unigrams: DataFrame, bigrams: DataFrame,
                            vocab: Long)

  // one tokenizer definition across BM25 / substring dedup / the LM;
  // null-safe (null text → empty array → tokens = 0, unscorable)
  private def toks(text: Column): Column = Retrieval.tokens(text)

  /** Adjacent-pair structs from a staged token-array column: one
    * element per transition (w_i, w_{i+1}), computed scan-side.
    */
  private def bigramsOf(tk: Column): Column =
    when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1), i =>
        struct(element_at(tk, i).as("tok1"),
          element_at(tk, i + 1).as("tok2"))))
      .otherwise(array().cast(
        "array<struct<tok1:string,tok2:string>>"))

  /** Count relations only — no vocab count job. Shared by the public
    * fit and the incremental append (which recounts the vocab on the
    * MERGED unigrams, so a delta-side count would be paid and thrown
    * away).
    */
  private def fitCounts(corpus: DataFrame,
                        textCol: String): (DataFrame, DataFrame) = {
    val tk = corpus.select(toks(col(textCol)).as("tk"))
    // Materialize: the unigram relation has two consumers (the vocab
    // count and the scoring broadcast) and exchange reuse does not
    // fire across them — without this the reference corpus would
    // re-tokenize and re-aggregate once per consumer
    val uni = Materialize(tk.select(explode(col("tk")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
    val bi = tk.select(explode(bigramsOf(col("tk"))).as("bg"))
      .select(col("bg.tok1"), col("bg.tok2"))
      .groupBy(col("tok1"), col("tok2")).agg(count(lit(1)).as("cnt"))
    (uni, bi)
  }

  /** Fit the bigram LM on a reference corpus: two aggregations, both
    * map-side combined; the vocab count is a bounded driver scalar
    * (the model must broadcast anyway — a vocabulary too large to
    * count is too large to serve).
    */
  def fitBigramLm(corpus: DataFrame, textCol: String): BigramLm = {
    val (uni, bi) = fitCounts(corpus, textCol)
    BigramLm(uni, bi, uni.count())
  }

  /** Persist the fitted model (lifecycle parity with the BM25 and ANN
    * indexes: fit once on the reference corpus, reload per scoring
    * job). Layout: `dir/unigrams`, `dir/bigrams`, `dir/meta` (one
    * vocab row).
    */
  def saveBigramLm(lm: BigramLm, dir: String): Unit = {
    lm.unigrams.write.mode("overwrite").parquet(dir + "/unigrams")
    lm.bigrams.write.mode("overwrite").parquet(dir + "/bigrams")
    lm.unigrams.sparkSession.range(1)
      .select(lit(lm.vocab).as("vocab"))
      .write.mode("overwrite").parquet(dir + "/meta")
  }

  def loadBigramLm(spark: org.apache.spark.sql.SparkSession,
                   dir: String): BigramLm =
    BigramLm(spark.read.parquet(dir + "/unigrams"),
      spark.read.parquet(dir + "/bigrams"),
      spark.read.parquet(dir + "/meta").head().getLong(0))

  /** Incremental reference-corpus growth: counts are ADDITIVE, so the
    * delta fits alone and merges by summation — O(delta + model), no
    * reference re-tokenization — and the result is count-identical to
    * refitting on the union (spec-pinned). The vocab is recounted from
    * the merged unigram relation (model-bounded).
    */
  def appendToBigramLm(lm: BigramLm, delta: DataFrame,
                       textCol: String): BigramLm = {
    val (dUni, dBi) = fitCounts(delta, textCol)
    val uni = lm.unigrams.unionByName(dUni)
      .groupBy(col("tok")).agg(sum(col("cnt")).as("cnt"))
    val bi = lm.bigrams.unionByName(dBi)
      .groupBy(col("tok1"), col("tok2")).agg(sum(col("cnt")).as("cnt"))
    BigramLm(uni, bi, uni.count())
  }

  private def quant(c: Column): Column =
    floor(c * 1e6 + 0.5) / 1e6

  /** Score each doc: mean negative log-likelihood of its transitions
    * under add-one smoothing — p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V),
    * unseen contexts fall back to 1/V — and perplexity exp(nll).
    * Returns (doc id, tokens, n_trans, avg_nll, ppl); docs with < 2
    * tokens carry null scores (nothing to judge — route them to the
    * heuristic gates instead). Both score columns are 6-decimal
    * quantized so engines replaying the same arithmetic in a
    * different summation order agree exactly. Delegates to the
    * per-language core under a constant key (the observation that
    * "lang is just another grouping key", run in reverse) — the
    * smoothing and quantization arithmetic the oracles replay exists
    * in exactly ONE place.
    */
  private val SingleLang = "_"

  private def asPerLang(lm: BigramLm): PerLangLm =
    PerLangLm(
      lm.unigrams.withColumn("lang", lit(SingleLang)),
      lm.bigrams.withColumn("lang", lit(SingleLang)),
      lm.unigrams.sparkSession.range(1)
        .select(lit(SingleLang).as("lang"), lit(lm.vocab).as("vocab")))

  def perplexity(df: DataFrame, idCol: String, textCol: String,
                 lm: BigramLm): DataFrame =
    perplexityPerLang(df.withColumn("__lang", lit(SingleLang)),
        idCol, "__lang", textCol, asPerLang(lm))
      .drop("lang")

  /** Per-language model: CCNet's actual design — one LM and one set
    * of percentile cuts PER LANGUAGE, because perplexity is not
    * comparable across languages (a fluent Vietnamese doc scores
    * absurdly against an English reference). Same relations as
    * [[BigramLm]] with a leading `lang` key; vocab becomes a
    * per-language relation (still model-bounded).
    */
  final case class PerLangLm(unigrams: DataFrame, bigrams: DataFrame,
                             vocabs: DataFrame)

  /** Fit one bigram LM per language in a SINGLE pair of aggregations —
    * the language is just another grouping key, so adding 100
    * languages adds zero extra passes.
    */
  def fitBigramLmPerLang(corpus: DataFrame, langCol: String,
                         textCol: String): PerLangLm = {
    val tk = corpus.select(col(langCol).cast("string").as("lang"),
      toks(col(textCol)).as("tk"))
    // Materialize (see fitCounts): vocabs derives from uni AND the
    // scoring path broadcasts uni — one aggregation, two consumers
    val uni = Materialize(
      tk.select(col("lang"), explode(col("tk")).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt")))
    val bi = tk.select(col("lang"), explode(bigramsOf(col("tk"))).as("bg"))
      .select(col("lang"), col("bg.tok1"), col("bg.tok2"))
      .groupBy(col("lang"), col("tok1"), col("tok2"))
      .agg(count(lit(1)).as("cnt"))
    val vocabs = uni.groupBy(col("lang")).agg(count(lit(1)).as("vocab"))
    PerLangLm(uni, bi, vocabs)
  }

  /** Score each doc against ITS OWN language's model (docs whose
    * language has no fitted model score against an empty vocabulary —
    * smoothing still yields finite probabilities, but `vocab` null
    * routes them to null scores instead: nothing to judge). Output
    * adds `lang` ahead of the [[perplexity]] columns.
    */
  def perplexityPerLang(df: DataFrame, idCol: String, langCol: String,
                        textCol: String, lm: PerLangLm): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("doc_id"),
      col(langCol).cast("string").as("lang"), toks(col(textCol)).as("tk"))
    val trans = base
      .select(col("doc_id"), col("lang"),
        explode(bigramsOf(col("tk"))).as("bg"))
      .groupBy(col("doc_id"), col("lang"), col("bg.tok1"), col("bg.tok2"))
      .agg(count(lit(1)).as("m"))
    val scored = trans
      .join(broadcast(lm.bigrams.withColumnRenamed("cnt", "c12")),
        Seq("lang", "tok1", "tok2"), "left_outer")
      .join(broadcast(lm.unigrams.select(col("lang"),
        col("tok").as("tok1"), col("cnt").as("c1"))),
        Seq("lang", "tok1"), "left_outer")
      .join(broadcast(lm.vocabs), Seq("lang"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_trans"),
        sum(col("m") *
          log((coalesce(col("c12"), lit(0L)) + lit(1.0)) /
            (coalesce(col("c1"), lit(0L)) + col("vocab").cast("double"))))
          .as("ll_sum"))
    base.select(col("doc_id"), col("lang"),
        size(col("tk")).cast("long").as("tokens"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"), col("tokens"),
        coalesce(col("n_trans"), lit(0L)).as("n_trans"),
        quant(-col("ll_sum") / col("n_trans")).as("avg_nll"),
        quant(exp(-col("ll_sum") / col("n_trans"))).as("ppl"))
  }

  /** Per-language head/middle/tail: cuts computed PER LANGUAGE (one
    * grouped sketch aggregation, broadcast back on the lang key) —
    * CCNet's rule that a doc competes only within its own language.
    */
  def perplexityTiersPerLang(scored: DataFrame,
                             accuracy: Int = 10000000): DataFrame = {
    val cuts = scored.filter(col("ppl").isNotNull)
      .groupBy(col("lang"))
      .agg(percentile_approx(col("ppl"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("qs"))
      .select(col("lang"), col("qs").getItem(0).as("cut1"),
        col("qs").getItem(1).as("cut2"))
    scored.join(broadcast(cuts), Seq("lang"), "left_outer")
      .withColumn("tier",
        when(col("ppl").isNull, lit("na"))
          .when(col("ppl") <= col("cut1"), lit("head"))
          .when(col("ppl") <= col("cut2"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("cut1", "cut2")
  }

  /** CCNet's head/middle/tail partition: tier cuts are the p33/p66
    * perplexity percentiles from a one-pass sketch (exact when
    * `accuracy` ≥ n — the q98 contract), broadcast onto the scored
    * relation; no global sort. Unscorable docs (null ppl) tier as
    * 'na'. Cuts are computed on the quantized ppl, so tie behavior is
    * engine-independent. Delegates to the per-language core under a
    * constant key — one copy of the cut/tier logic.
    */
  def perplexityTiers(scored: DataFrame,
                      accuracy: Int = 10000000): DataFrame = {
    val cols = scored.columns
    perplexityTiersPerLang(scored.withColumn("lang", lit(SingleLang)),
        accuracy)
      .select((cols :+ "tier").map(col): _*)
  }
}
