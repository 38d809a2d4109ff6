package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors.bound

/** Training-data curation operators beyond the reference's surface:
  * the selection/packing steps a large-scale pretraining pipeline runs
  * after dedup and quality scoring. All relational — the per-doc
  * metrics come from map-side-combined explode→groupBy passes, the
  * assignment functions are stateless scan-side expressions, and the
  * grouped steps shuffle once on their natural key. (Repetition
  * thresholds follow the shape of the Gopher/MassiveText quality
  * rules: Rae et al. 2021, arXiv:2112.11446 §A.1.1.)
  */
object Curation {

  /** Non-empty whitespace tokens of `text`, as an array column. */
  private def wordArr(text: Column): Column =
    array_remove(split(text, "\\s+"), "")

  /** Per-document repetition metrics:
    * `n_words`, `dup_word_frac` = 1 − distinct/total words, and
    * `top_bigram_frac` = occurrences of the most frequent word bigram
    * over total bigrams (0.0 for single-word docs). Two narrow
    * explode→groupBy passes (word counts, bigram counts), both
    * map-side combined, joined once on the doc key — no row ever
    * carries the full text past the scan.
    */
  def repetitionMetrics(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val id = col(idCol)
    val words = docs.select(id, explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val wordStats = words.groupBy(id).agg(
      count(lit(1)).as("n_words"),
      countDistinct(col("w")).as("n_distinct"))
    val bigrams = docs.select(id, explode(bound(wordArr(col(textCol))) { w =>
      when(size(w) >= 2,
        transform(sequence(lit(1), size(w) - 1), i =>
          concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
        .otherwise(array().cast("array<string>"))
    }).as("b"))
    val bigramStats = bigrams.groupBy(id, col("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(id).agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bg"))
    wordStats.join(bigramStats, Seq(idCol), "left").select(
      id, col("n_words"),
      (floor((lit(1.0) - col("n_distinct") / col("n_words").cast("double"))
        * 10000.0 + 0.5) / 10000.0).as("dup_word_frac"),
      coalesce(
        floor(col("top_c") / col("n_bg").cast("double") * 10000.0 + 0.5)
          / 10000.0, lit(0.0)).as("top_bigram_frac"))
  }

  /** Deterministic content-hash split assignment: the first hex digit
    * of md5(text) buckets 16 ways — 12 train / 2 val / 2 test. Being
    * content-derived (not `rand()`), the split is reproducible across
    * runs, engines, and re-partitioning, and identical duplicate texts
    * land in the same split (no train/test leakage between copies).
    */
  def hashSplit(text: Column): Column = {
    val c = substring(md5(text), 1, 1)
    // final branch tests isNotNull rather than otherwise(): a null
    // text must stay null, not silently land in the test split
    when(c < "c", "train").when(c < "e", "val").when(c.isNotNull, "test")
  }

  /** Start-offset context packing: within each `groupCol` partition,
    * rows ordered by `orderCol` accumulate `tokensCol`, and a row's
    * `pack_id` is floor(tokens-before-it / budget) — every pack holds
    * ~budget tokens, and a doc straddling a boundary belongs to the
    * pack where it starts. One shuffle on the group key; the running
    * sum is a single window pass. Exact integer arithmetic, so the
    * assignment is engine-reproducible.
    */
  def packByBudget(docs: DataFrame, groupCol: String, orderCol: String,
      tokensCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // long DIV, not floor(x / double): IEEE division is only exact
    // while running sums stay below ~2^53 — at extreme scale boundary
    // assignment could drift, and "exact integer arithmetic" (the
    // reproducibility contract above) must actually be integer
    val cum = coalesce(sum(col(tokensCol)).over(w), lit(0L))
    docs.withColumn("__graft_cum", cum)
      .withColumn("pack_id", expr(s"__graft_cum div ${budget}L"))
      .drop("__graft_cum")
  }

  /** Per-group quota cap: keep the first `quota` rows of each
    * `groupCol` partition under `orderCols` (tie-broken deterministic
    * by construction of the caller's ordering). The mixture-sampling /
    * per-domain-cap primitive: one shuffle on the group key.
    */
  def quotaCap(docs: DataFrame, groupCol: String, quota: Column,
      orderCols: Column*): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(orderCols: _*)
    docs.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= quota)
  }

  /** PII patterns, ordered so earlier scrubs cannot create later
    * matches: email, then IPv4, then phone-ish digit runs. Chosen for
    * identical semantics in Java regex and RE2 (no lookaround, no
    * backrefs) so the DuckDB oracle mirrors them verbatim.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "ip"    -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\+?\\d[\\d -]{7,}\\d"
  )

  /** Redact all PII pattern matches with `[EMAIL]`/`[IP]`/`[PHONE]`. */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (kind, pat)) =>
      regexp_replace(c, pat, s"[${kind.toUpperCase}]")
    }

  /** Match count for one PII kind (pre-scrub). */
  def piiCount(text: Column, kind: String): Column =
    regexp_count(text, lit(piiPatterns.toMap.apply(kind)))

  /** Deterministic stratified sampling — the mixture-weighting
    * primitive: keep each row with a per-stratum probability, decided
    * by md5(seed ‖ key) rather than process randomness, so the sample
    * is reproducible across runs, engines, partitionings, and cluster
    * sizes (the property that makes a 100 TB training mixture
    * auditable — the same (seed, key) always lands the same way).
    * Scan-side, no shuffle, no sampling state. `fractions` maps
    * stratum → keep fraction; strata absent from the map are dropped.
    * The draw compares the first 4 md5 bytes (as a 32-bit uniform)
    * against fraction·2³²; fractions are quantized to 1/2³² — exact
    * for any practical mixture weight.
    */
  def stratifiedSample(docs: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double], seed: String): DataFrame = {
    val u = conv(substring(md5(concat(lit(seed), lit(":"),
      col(keyCol).cast("string"))), 1, 8), 16, 10).cast("long")
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, f)) =>
      val cut = math.round(f * 4294967296.0) // fraction·2^32
      when(col(strataCol) === stratum, u < cut).otherwise(acc)
    }
    docs.filter(keep)
  }

  /** Deterministic weighted sampling WITHOUT replacement, per group
    * (Efraimidis–Spirakis A-ES, Inf. Proc. Letters 2006): each row
    * draws a seeded md5 uniform u ∈ (0,1) and scores u^(1/w); the `n`
    * largest scores per group are a weighted sample without
    * replacement. Deterministic for the same (seed, key) — the
    * auditable counterpart of `rand()`-based sampling, same rationale
    * as [[stratifiedSample]]. The score is ROUNDED to 12 decimals
    * before ranking (ties broken by key) so a last-ulp `pow`
    * divergence between engines cannot flip the rank order — the q62
    * convention. Rows with non-positive or null weights are dropped.
    * Output: input columns + `rank` (long, 1-based by descending
    * score).
    */
  def weightedSample(docs: DataFrame, groupCol: String, keyCol: String,
      weightCol: String, n: Int, seed: String): DataFrame = {
    val h = conv(substring(md5(concat(lit(seed), lit(":"),
      col(keyCol).cast("string"))), 1, 8), 16, 10).cast("double")
    val u = (h + 0.5) / 4294967296.0 // (0,1), never exactly 0 or 1
    val score = floor(pow(u, lit(1.0) / col(weightCol).cast("double"))
      * 1e12 + 0.5) / 1e12
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__es").desc, col(keyCol).asc)
    docs.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__es", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
      .drop("__es")
  }

  /** Benchmark decontamination: drop corpus docs sharing at least
    * `minHits` distinct word n-gram shingles with ANY doc of the eval
    * set — the standard guard against test-set leakage into training
    * data (the GPT-3/PaLM n-gram-overlap protocol, arXiv:2005.14165
    * §C). Scale shape: the eval set is small by definition, so its
    * distinct shingle hashes BROADCAST; the corpus is scanned once,
    * its shingle explode semi-joins the broadcast set, and the hit
    * count per doc is a map-side-combined aggregate — no corpus
    * shuffle of anything wider than (id, count). Shingles are hashed
    * ([[Dedup.shingleHashes]]); equal shingles hash equal, so distinct
    * hit counts match distinct string-shingle counts (2⁻⁶⁴
    * collisions).
    */
  def decontaminate(corpus: DataFrame, textCol: String, idCol: String,
      eval: DataFrame, evalTextCol: String, n: Int = 13,
      minHits: Long = 1L): DataFrame = {
    val es = eval
      .select(explode(Dedup.shingleHashes(col(evalTextCol), n)).as("h"))
      .distinct()
    val contaminated = corpus
      .select(col(idCol).as("__id"),
        explode(Dedup.shingleHashes(col(textCol), n)).as("h"))
      .join(broadcast(es), "h")
      .groupBy(col("__id")).agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
      .select(col("__id"))
    corpus.join(contaminated, corpus(idCol) === contaminated("__id"),
      "left_anti")
  }

  /** Gate thresholds for [[curate]]; defaults match the oracled q74
    * pipeline.
    */
  final case class CurationConfig(
      maxDupWordFrac: Double = 0.6,
      maxTopBigramFrac: Double = 0.05,
      minQuality: Double = 0.45)

  /** The end-to-end curation pipeline as one operator: exact-dedup
    * survivors → repetition gate → quality gate → content-hash split +
    * token count, returning the kept rows of `docs` with `q`, `split`
    * and `tokens` columns added. Every stage gates on ROUNDED metrics
    * (engine ulps cannot flip membership) and shuffles only narrow
    * per-doc rows; the full-text column crosses no shuffle. q74
    * oracles the composition value-for-value against DuckDB.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      cfg: CurationConfig = CurationConfig()): DataFrame = {
    val survivors = Dedup.exact(docs, textCol, idCol)
      .select(col("keeper").as(idCol))
    val repOk = repetitionMetrics(docs, idCol, textCol)
      .filter(col("dup_word_frac") <= cfg.maxDupWordFrac &&
        col("top_bigram_frac") <= cfg.maxTopBigramFrac)
      .select(col(idCol))
    docs.join(survivors, Seq(idCol)).join(repOk, Seq(idCol))
      .withColumn("q",
        floor(TextAnalysis.qualityScore(col(textCol)) * 10000.0 + 0.5)
          / 10000.0)
      .filter(col("q") >= cfg.minQuality)
      .withColumn("split", hashSplit(col(textCol)))
      .withColumn("tokens",
        TextAnalysis.wsTokenCount(col(textCol)).cast("long"))
  }

  /** Per-batch padding stats for fixed-size micro-batches — the
    * inference/training collation cost model: a batch of `batchSize`
    * sequences pads every sequence to the batch max, so batch cost is
    * n·max(tokens) and the waste is n·max − sum. Sorting by length
    * first (length-sorted batching, the standard dynamic-batching
    * trick) makes batches length-homogeneous and collapses the waste;
    * `sorted = false` measures arrival order as the baseline. Output:
    * (batch_id, n_docs, max_tokens, sum_tokens, pad_tokens).
    *
    * The global row numbering is inherently sequential; at corpus
    * scale, range-partition on the token count and batch within
    * partitions — batch boundaries shift by at most one batch per
    * partition edge while the padding economics are identical.
    */
  def paddedBatchStats(docs: DataFrame, idCol: String, tokensCol: String,
                       batchSize: Int, sorted: Boolean = true): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val w =
      if (sorted)
        org.apache.spark.sql.expressions.Window
          .orderBy(col(tokensCol), col(idCol))
      else
        org.apache.spark.sql.expressions.Window.orderBy(col(idCol))
    docs.select(col(idCol), col(tokensCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("batch_id", expr(s"(__rn - 1) div $batchSize"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col(tokensCol)).as("max_tokens"),
        sum(col(tokensCol)).as("sum_tokens"))
      .withColumn("pad_tokens",
        col("n_docs") * col("max_tokens") - col("sum_tokens"))
  }

  /** Temperature-balanced mixture sampling: per-source weights
    * wₛ ∝ nₛ^α (α < 1 up-weights small sources — the multilingual
    * mixing rule of Conneau & Lample, "Cross-lingual Language Model
    * Pretraining", NeurIPS 2019 §3.1), a doc budget allocated by wₛ,
    * and a deterministic md5-keyed draw ([[stratifiedSample]]'s
    * mechanism) admitting each source's share. Two scans, no wide
    * shuffle: source counts are a hash aggregate whose result (one row
    * per source) broadcasts back onto the corpus; the draw is
    * scan-side. Per-source admission uses floor(budget·wₛ), capped at
    * nₛ. Output: input columns + `w` (quantized to 9 decimals) +
    * `target` (long) — filtered to admitted rows.
    */
  def temperatureMixture(docs: DataFrame, sourceCol: String,
      keyCol: String, budget: Long, alpha: Double,
      seed: String): DataFrame = {
    val counts = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_s"))
    val tot = counts.agg(sum(pow(col("n_s"), lit(alpha))).as("z"))
    val plan = counts.crossJoin(broadcast(tot))
      // quantize the weight BEFORE the target floor so an engine-ulp
      // divergence in pow cannot flip a budget row count
      .withColumn("w",
        floor(pow(col("n_s"), lit(alpha)) / col("z") * 1e9 + 0.5) / 1e9)
      .withColumn("target",
        least(col("n_s"), floor(lit(budget) * col("w"))).cast("long"))
      // per-source admission cut, computed ONCE in this (rows = number
      // of sources) broadcast plan in exact integer arithmetic:
      // u·n_s < target·2³² ⟺ u < ceil(target·2³²/n_s)
      //                       = (target·2³² + n_s − 1) div n_s.
      // The per-row Long product form overflows silently for n_s or
      // target > 2³¹ (the 100 TB regime); here the product lives in
      // DECIMAL (≤ 2⁹⁵ ≪ 10³⁸, no precision loss at scale 0) and the
      // integral `div` avoids decimal division's quotient rounding.
      // The cut itself is ≤ 2³² (target ≤ n_s), so the scan-side
      // compare is a plain Long test.
      .withColumn("__cut", expr(
        "(CAST(target AS DECIMAL(20,0)) * 4294967296" +
          " + CAST(n_s AS DECIMAL(20,0)) - 1)" +
          " div CAST(n_s AS DECIMAL(20,0))"))
    val u = conv(substring(md5(concat(lit(seed), lit(":"),
      col(keyCol).cast("string"))), 1, 8), 16, 10).cast("long")
    docs.join(broadcast(plan), Seq(sourceCol))
      .withColumn("__u", u)
      // admit at rate target/n_s on the 32-bit uniform — exact integer
      // semantics as stratifiedSample, no per-row multiplication
      .filter(col("__u") < col("__cut"))
      .drop("__u", "__cut", "n_s", "z")
  }

  /** Cluster-balanced sampling over an embedding column — the
    * diversity-preserving subsample a web-scale corpus needs (the
    * SemDeDup/SSL-prototypes family: uniform sampling over-represents
    * the head clusters; per-cluster caps keep the tail): assign each
    * vector to its nearest cell of a FITTED
    * [[Similarity.IvfModel]] (the same frozen coarse quantizer the
    * ANN stack amortizes — one fit serves search, semantic dedup,
    * drift monitoring and sampling), rank within the cell by distance
    * to the centroid, and keep `perCluster` rows. `central = true`
    * keeps the most prototypical members (cluster summaries /
    * curriculum seeds); `false` keeps the FARTHEST — the
    * prototype-pruning form that drops redundant near-centroid mass.
    * Output: input row + (cell, cell_rank, cell_dist) with the
    * distance quantized to 1e-6 for cross-engine comparison (ranking
    * happens on the RAW distance, whose left-assoc kernel arithmetic
    * an oracle replays bit-for-bit — the q120 fitted-model pattern).
    *
    * Scale shape: assignment is one codegen'd scan-side expression
    * (centroids ride as a reference object, never joined); the only
    * exchange is the per-cell ranking window, keyed on nlist cells —
    * size the model's nlist ≫ shuffle-partition count and the window
    * partitions stay balanced.
    */
  def clusterSample(df: DataFrame, idCol: String, vecCol: String,
                    model: Similarity.IvfModel, perCluster: Int,
                    central: Boolean = true): DataFrame = {
    val cell = element_at(model.nearestCells(col(vecCol), 1), 1)
    val d = model.nearestCellDistance(col(vecCol))
    val withCell = df.withColumn("cell", cell).withColumn("__d", d)
    val ord = if (central) col("__d").asc else col("__d").desc
    val w = Window.partitionBy(col("cell")).orderBy(ord, col(idCol))
    withCell
      .withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= perCluster)
      .withColumn("cell_dist",
        floor(col("__d") * 1e6 + 0.5) / 1e6)
      .drop("__d")
  }
}
