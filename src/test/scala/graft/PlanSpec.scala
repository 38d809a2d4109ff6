package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Queries

/** Physical-plan regression tests: the properties that make these
  * plans survive a 100× scale-up, asserted so a refactor cannot
  * silently reintroduce a scale-killer (SCALE.md is the prose twin).
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    Queries.all(q)(spark, sf).queryExecution.executedPlan.toString

  test("q02 dim enrichment broadcasts, never sort-merges the dims") {
    val p = plan("q02_enrich_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q12 global top-n plans TakeOrdered, not a full sort") {
    assert(plan("q12_union_priority").contains("TakeOrderedAndProject"))
  }

  test("q25 minhash banding has no cartesian or nested-loop join") {
    val p = plan("q25_minhash_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q22 inverted-index jaccard joins on the shingle, no cross join") {
    val p = plan("q22_ngram_jaccard")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q30 as-of join is one shuffle on the key (tagged-union window)") {
    val p = plan("q30_asof_join")
    // no join operator at all: the as-of is a union + window pass
    assert(!p.contains("Join"))
  }

  test("documents scan prunes to the projected columns only") {
    val p = plan("q17_tokens")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected pruned ReadSchema in:\n$p")
  }

  test("minhash signatures are one native projection — no interpreted " +
      "per-row seed loop") {
    val plan = graft.operators.Dedup
      .minhashSignatures(spark.read.parquet(s"$sf/documents.parquet"),
        "text", "doc_id")
      .queryExecution.executedPlan
    val p = plan.toString
    // every doc is hashed by the codegen'd kernel inside the scan's
    // stage: no per-row transform, no shingle explode, no aggregate
    val compiled = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.exists(_.child.expressions.exists(_.exists(
      _.isInstanceOf[graft.expressions.MinHashSignature])))
    assert(compiled, s"expected graft_minhash under whole-stage codegen in:\n$p")
    Seq("Generate", "Exchange", "transform(", "HashAggregate").foreach(op =>
      assert(!p.contains(op), s"unexpected $op in:\n$p"))
  }

  test("q62 tf-idf computes the term explode exactly once") {
    val df = Queries.all("q62_tfidf")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // tf is checkpointed: both consumers scan the materialized rows,
    // so the final plan carries NO Generate (the explode ran once,
    // eagerly) — without the checkpoint it would carry two
    assert(!p.contains("Generate"), s"expected no Generate in:\n$p")
    assert(p.contains("ExistingRDD"), s"expected checkpoint scan in:\n$p")
  }

  test("curation pipeline (q74) composes with no cartesian products") {
    val p = plan("q74_curation_pipe")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("repetition metrics (q64) shuffle only narrow count rows") {
    val p = plan("q64_repetition")
    assert(!p.contains("CartesianProduct"))
    // the bigram explode must feed a partial aggregate (map-side
    // combine) before any exchange — text never crosses the shuffle
    assert(p.contains("HashAggregate"), s"expected HashAggregate in:\n$p")
  }

  test("q77 ivf-pq search broadcasts the query side — the codes scan " +
    "is probed, never shuffled or cross-joined") {
    val p = plan("q77_ivfpq_ann")
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ in:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q80 incremental dedup broadcasts the delta buckets against " +
    "one index scan") {
    val p = plan("q80_incr_dedup")
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ in:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q84 band join buckets the inequality — equi-join, not BNLJ") {
    val p = plan("q84_band_join")
    // a naive |a−b| ≤ eps predicate plans as BroadcastNestedLoopJoin;
    // the bucket + neighbor-replication rewrite must keep it a hash join
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q87 decontamination broadcasts the eval shingles into one " +
    "corpus scan") {
    val p = plan("q87_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ in:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q90 profile reads the table exactly once (one-scan per-column " +
    "stats)") {
    val p = plan("q90_profile")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 parquet scan, found $scans in:\n$p")
  }

  test("q91 salted join broadcasts the replicated dim — skew " +
    "mitigation must not reintroduce a shuffle or BNLJ") {
    val p = plan("q91_salted_join")
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ in:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q95 bm25 ends in TakeOrdered (global top-k, no full sort); " +
    "df and corpus stats ride broadcasts, never a cartesian") {
    val p = plan("q95_bm25")
    assert(p.contains("TakeOrderedAndProject"), s"expected TOP in:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the 1-row stats join may plan as a BNLJ-on-singleton; the term
    // df join must be a broadcast hash join
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ in:\n$p")
  }

  test("q106 batch bm25: postings pruned by a broadcast semi join on " +
    "the batch term set; query fan-out is a broadcast hash join, " +
    "never a cartesian") {
    val p = plan("q106_bm25_batch")
    assert(p.contains("LeftSemi"), s"expected semi-join prune in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ in:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in:\n$p")
  }

  test("q116 index-served bm25 pushes the batch term set into the " +
    "postings SCAN as an In literal — row-group skipping under the " +
    "byKey layout, not a post-scan semi join") {
    val p = plan("q116_bm25_index")
    assert(p.contains("PushedFilters: [In(term"),
      s"expected In(term,...) pushed into the postings scan in:\n$p")
    // the old shape filtered AFTER the scan with a broadcast semi join
    // — at 100× that reads the entire postings relation per batch
    assert(!p.contains("LeftSemi"), s"post-scan semi-join prune in:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in:\n$p")
  }

  test("q117 lifecycle-served bm25 keeps the In(term) scan prune " +
    "after delete + update maintenance — the rewritten index serves " +
    "through the same pushed-predicate path as a fresh one") {
    val p = plan("q117_bm25_lifecycle")
    assert(p.contains("PushedFilters: [In(term"),
      s"expected In(term,...) pushed into the postings scan in:\n$p")
    assert(!p.contains("LeftSemi"), s"post-scan semi-join prune in:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in:\n$p")
  }

  test("q118 hybrid fusion: lexical arm scan is term-pruned, vector " +
    "arm broadcasts its bounded query side — no cartesian, no " +
    "sort-merge anywhere in the fused plan") {
    val p = plan("q118_hybrid_lexvec")
    assert(p.contains("PushedFilters: [In(term"),
      s"expected In(term,...) pushed into the postings scan in:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in:\n$p")
  }

  test("q120 ivf-bucketed semantic dedup: candidate pairs come from " +
    "a cell equi-join, never an all-pairs cartesian") {
    val p = plan("q120_semdedup_ivf")
    assert(!p.contains("CartesianProduct"), s"all-pairs shape in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop candidate generation in:\n$p")
  }

  test("q122 substring dedup: the only corpus-wide movement is the " +
    "fingerprint-keyed window; no cartesian, no sort-merge join") {
    val p = plan("q122_substr_dedup")
    // three windows: fp first-occurrence rank + the two interval-merge
    // passes (gaps-and-islands) — all on 8-byte keys, never text
    assert("Window \\[".r.findAllIn(p).size >= 3,
      s"expected the rank + merge windows in:\n$p")
    assert(!p.contains("CartesianProduct"), s"all-pairs shape in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q123 perplexity: the token-keyed model joins BROADCAST onto " +
    "the candidate transitions; nested-loops are only the folded " +
    "one-row constant-key joins (vocab, cuts); any sort-merge is the " +
    "doc-keyed rollup — never a token-keyed or cartesian shape") {
    val p = plan("q123_ppl_filter")
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ in:\n$p")
    // single-model delegation runs the per-lang core under a constant
    // key, so the one-row vocab and cuts joins fold their lang
    // equality to literal `true` — every BNLJ must be exactly that
    // shape (a broadcast of one row), nothing with a real condition
    val bnljs = "BroadcastNestedLoopJoin[^\n]*".r.findAllIn(p).toSeq
    assert(bnljs.nonEmpty && bnljs.forall(l =>
        l.contains("BuildRight") && l.trim.endsWith("true")),
      s"non-one-row nested loop in:\n$p")
    // the per-doc score rollup may sort-merge on doc_id (both sides
    // corpus-sized and doc-keyed — the right shape at 100×; AQE
    // broadcasts it at small scale), but NOTHING may sort-merge on
    // token keys
    val smjs = "SortMergeJoin[^\n]*".r.findAllIn(p).toSeq
    assert(smjs.forall(_.contains("doc_id")),
      s"token-keyed sort-merge join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q126 per-language perplexity: model joins stay hash joins " +
    "(lang is a real key, nothing folds to a nested loop); grouped " +
    "cuts broadcast; no cartesian") {
    val p = plan("q126_ppl_per_lang")
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"unexpected nested loop in:\n$p")
    val smjs = "SortMergeJoin[^\n]*".r.findAllIn(p).toSeq
    assert(smjs.forall(_.contains("doc_id")),
      s"token-keyed sort-merge join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q96 mixture broadcasts the per-stratum plan onto the corpus " +
    "scan — no wide shuffle of the documents table") {
    val p = plan("q96_temp_mixture")
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q99 bloom semi join: might_contain prunes the probe SCAN " +
    "before a broadcast semi join — no sort-merge anywhere") {
    val p = plan("q99_bloom_semijoin")
    assert(p.contains("might_contain"), "bloom filter not in the plan")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "exact verify must be a broadcast left-semi join")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q128 jpeg decode is scan-local: no join, no aggregate, no " +
    "shuffle except the final output sort") {
    val p = plan("q128_jpeg_decode")
    assert(!p.contains("Join") && !p.contains("HashAggregate"))
    // exactly one exchange — the rangepartitioning for orderBy; the
    // decode itself (mapPartitions over synthesized blobs) is
    // narrow, so 100 TB of blobs decode without any data movement
    val exchanges = "(?i)exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"jpeg decode plans $exchanges exchanges:\n$p")
  }

  test("staleness measurement plan: one map-side pass + one aggregate " +
    "exchange, no join — asserted on the measurement query itself") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val data = (0 until 64).map(i =>
      (i.toLong, Array.fill(4)((i % 7).toFloat))).toDF("id", "vec")
    val model = graft.operators.Similarity.fitIvfPq(
      data, "vec", nlist = 4, m = 2, k = 4)
    // the exact frame centroidStaleness aggregates, one level down
    val measure = data
      .select(graft.functions.Vectors.toDouble(col("vec")).as("v"))
      .filter(col("v").isNotNull)
      .select(model.ivf.nearestCellDistance(col("v")).as("d"))
      .agg(percentile_approx(col("d"), lit(0.9), lit(10000)))
    val p = measure.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "measurement must not join")
    val exchanges = "(?i)exchange".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"measurement should shuffle only the partial aggregates:\n$p")
    // and q130's emitted frame is driver-local report rows
    assert(plan("q130_ann_staleness").contains("LocalTableScan"))
  }
  test("blob pipelines shuffle METADATA only: q134 resize, q136 " +
    "dispatch, q140 audio transcode, q141 heterogeneous transcode, " +
    "q152 fractional resample, q153 MP4 walk, q154 progressive " +
    "decode, q168 MP3 metadata and q169 audio dispatch have exactly " +
    "one exchange — the final metadata sort — never a blob-column " +
    "shuffle") {
    for (q <- Seq("q134_jpeg_resize", "q136_modality_dispatch",
        "q140_wav_transcode", "q141_multimodal_transcode",
        "q152_wav_resample", "q153_mp4_meta",
        "q154_jpeg_progressive", "q168_mp3_meta",
        "q169_audio_dispatch", "q176_ogg_meta",
        "q181_decompress")) {
      val p = plan(q)
      val n = p.sliding("Exchange".length).count(_ == "Exchange")
      assert(n == 1, s"$q: expected 1 exchange (ordering sort), got $n\n$p")
      // decode runs partition-local either way: mapPartitions (blob
      // operators) or a typed map over the fixture's Dataset
      assert(p.contains("MapPartitions") || p.contains("MapElements"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q146 scene cuts and q147 image hashes shuffle metadata only: " +
    "one exchange (ordering sort), blobs stay partition-local") {
    for (q <- Seq("q146_scene_cuts", "q147_image_phash")) {
      val p = plan(q)
      val n = p.sliding("Exchange".length).count(_ == "Exchange")
      assert(n == 1, s"$q: expected 1 exchange (ordering sort), got $n\n$p")
      assert(p.contains("MapPartitions"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q171/q172 robots admission joins the rules table as a " +
    "broadcast equi-join on site — URLs are touched once, never a " +
    "cartesian or per-rule nested loop") {
    for (q <- Seq("q171_robots", "q172_frontier")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
      assert(p.contains("BroadcastHashJoin"), q)
    }
  }

  test("q148 image near-dup pairs join banded — equi-join on " +
    "(band_no, band_val), never a cartesian over images") {
    val p = plan("q148_image_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("frontierFresh inverts the seen-index probe: bloom-pruned scan " +
    "+ broadcast semi + broadcast anti — NO exchange carries the seen " +
    "side, no sort-merge join anywhere") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-frontier-plan").toString
    // a history-sized seen index on disk, a batch-sized local delta
    spark.range(50000).selectExpr("concat('http://s/', id) AS canon")
      .write.mode("overwrite").parquet(s"$tmp/seen")
    val firstHere = (0 until 100)
      .map(i => (i.toLong, s"http://s/${i * 1000}"))
      .toDF("doc_id", "canon")
    val fresh = graft.streaming.Streams.frontierFresh(
      firstHere, spark.read.parquet(s"$tmp/seen"))
    val p = fresh.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"bloom prune missing from the seen scan:\n$p")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"expected semi+anti pair in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"SMJ in:\n$p")
    // the ONLY exchanges are broadcasts of batch-sized sets: any
    // hash/range repartition would mean the seen relation shuffled
    assert(!p.contains("Exchange hashpartitioning") &&
           !p.contains("Exchange rangepartitioning") &&
           !p.contains("Exchange SinglePartition"),
      s"shuffle exchange in the frontier probe:\n$p")
    // result ≡ the naive anti join
    val naive = firstHere.join(spark.read.parquet(s"$tmp/seen"),
      Seq("canon"), "left_anti")
    assert(fresh.count() === naive.count())
  }

  test("incrementalCandidatesPruned pushes the delta's band keys into " +
    "the index scan as In(band_hash) — PushedFilters, not a post-scan " +
    "filter") {
    import spark.implicits._
    import graft.operators.Dedup
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-bandidx-plan").toString
    val idxDocs = (0 until 50)
      .map(i => (i.toLong, s"index doc number $i with some words"))
      .toDF("doc_id", "text")
    graft.operators.Layout.byKey(
        Dedup.bandBuckets(Dedup.minhashSignatures(
          idxDocs, "text", "doc_id")), "band_hash", 4)
      .write.mode("overwrite").parquet(s"$tmp/idx")
    val delta = (0 until 5)
      .map(i => (1000L + i, s"index doc number $i with some words"))
      .toDF("doc_id", "text")
    val p = Dedup.incrementalCandidatesPruned(
        spark.read.parquet(s"$tmp/idx"),
        Dedup.bandBuckets(Dedup.minhashSignatures(
          delta, "text", "doc_id")))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [In(band_hash"),
      s"expected In(band_hash) pushed into the index scan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"SMJ in:\n$p")
  }

  test("q119x loaded-scale BPE plans the constant-depth loop " +
    "expression, never a replace chain") {
    val p = Queries.benchOnly("q119x_bpe_loaded")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_bpe_piece_count"), p.take(2000))
    assert(!p.contains("replace("), "loaded table built a chain")
  }

  test("staged token arrays stay out of lambda bodies: no split inside " +
    "a lambda, one graft_minhash per banded signature") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction,
      StringSplit}
    import org.apache.spark.sql.functions.{col, explode}
    import graft.expressions.MinHashSignature
    import graft.operators.{Curation, Dedup, Summarize}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def exprs(df: DataFrame) =
      df.queryExecution.optimizedPlan.flatMap(_.expressions)
    // a split inlined into a lambda re-tokenizes the text per element
    def noSplitInLambda(name: String, df: DataFrame): Unit = {
      val inlined = exprs(df).flatMap(_.collect {
        case lf: LambdaFunction if lf.exists(_.isInstanceOf[StringSplit]) =>
          lf
      })
      assert(inlined.isEmpty,
        s"$name: split inside a lambda:\n${df.queryExecution.optimizedPlan}")
    }
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", k = 6)
    Seq(
      "jaccardPairs" -> Dedup.jaccardPairs(docs, "text", "doc_id"),
      "simhashSignatures" ->
        Dedup.simhashSignatures(docs, "text", "doc_id"),
      "simhashSignatures(Md5)" ->
        Dedup.simhashSignatures(docs, "text", "doc_id", Dedup.Md5),
      "duplicateSpans" -> spans,
      "duplicateSpans(Md5)" ->
        Dedup.duplicateSpans(docs, "doc_id", "text", 6, Dedup.Md5),
      "stripDuplicateSpans" ->
        Dedup.stripDuplicateSpans(docs, "doc_id", "text", spans),
      "repetitionMetrics" ->
        Curation.repetitionMetrics(docs, "doc_id", "text"),
      "decontaminate" -> Curation.decontaminate(docs, "text", "doc_id",
        docs.limit(3), "text"),
      "statements" -> docs
        .select(col("doc_id"), Summarize.words(col("text")).as("w"))
        .select(col("doc_id"), explode(Summarize.statements(col("w"))))
    ).foreach { case (name, df) => noSplitInLambda(name, df) }
    // the serve path's dedup probe, unmaterialized: band keys read the
    // signature column, so the kernel runs once per doc
    val banded = Dedup.bandBuckets(
      Dedup.minhashSignatures(docs, "text", "doc_id"))
    val kernels = exprs(banded).map(_.collect {
      case m: MinHashSignature => m }.size).sum
    assert(kernels == 1,
      s"graft_minhash x$kernels:\n${banded.queryExecution.optimizedPlan}")
  }

  test("the summary bullets run codegen'd: no split under a " +
    "CodegenFallback, one generated split per distinct split") {
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.debug.codegenString
    import org.apache.spark.sql.functions.{array_join, col, size}
    import graft.functions.Text
    import graft.operators.Summarize
    // an interpreted (CodegenFallback) parent evaluates each copy of
    // the words split on its own, outside codegen's CSE
    Seq("q36_summarize", "q44_lifecycle").foreach { name =>
      val p = Queries.all(name)(spark, sf).queryExecution.optimizedPlan
      val under = p.flatMap(_.expressions).flatMap(_.collect {
        case f: CodegenFallback => f.collect { case s: StringSplit => s }
      }.flatten)
      assert(under.isEmpty, s"$name: split under a CodegenFallback:\n$p")
    }
    // q36's shape: the words split repeats n times per bullet array and
    // the array twice; CSE leaves one words split and one line split
    val bullets = Text.summaryBullets(Text.cleanSummary(
      Summarize.extractiveSummaryRaw(col("text"))))
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(bullets), array_join(bullets, " | "))
    val code = codegenString(df.queryExecution.executedPlan)
    val splits = "\\.split\\(".r.findAllIn(code).size
    assert(splits == 2, s"$splits generated split calls:\n$code")
  }

}
