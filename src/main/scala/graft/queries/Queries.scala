package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.queries.Oracle.{BenchOnly, Sql}

/** Where an entry's DuckDB oracle SQL comes from. */
sealed trait Oracle {
  /** The SQL, or None when there is none (yet). */
  def sql: Option[String]
}

object Oracle {
  /** SQL fixed when the suite is declared. */
  final case class Sql(text: String) extends Oracle {
    def sql: Option[String] = Some(text)
  }

  /** No oracle: a bench-only twin, timed by Bench but outside the
    * Verify contract.
    */
  case object BenchOnly extends Oracle {
    def sql: Option[String] = None
  }

  /** SQL rendered from the model the entry fitted. The entry fits
    * through [[apply]], once per data dir per JVM; [[sql]] renders the
    * model of the entry's last run, so it is None until the entry has
    * run in this JVM (Verify dumps the oracles after running every
    * entry).
    */
  final class Fitted[M](render: M => String) extends Oracle {
    private val models = TrieMap.empty[String, M]
    @volatile private var lastDir: Option[String] = None

    def apply(dir: String)(fit: => M): M = {
      val model = models.getOrElseUpdate(dir, fit)
      lastDir = Some(dir)
      model
    }

    def sql: Option[String] = lastDir.flatMap(models.get).map(render)
  }
}

/** The engine's demonstrable query suite: one entry per operator family
  * from SURVEY.md §2 (+ the large-scale curation extensions), each with
  * a DuckDB-runnable oracle where SQL can express the semantics.
  *
  * Column names and types are aligned pairwise between the Spark plan
  * and the oracle SQL — the driver's compare hashes values under sorted
  * column names. Nondeterministic orderings are always tie-broken by a
  * unique key; floating aggregates are rounded identically on both
  * sides (engine-difference ≈1e-15 ≪ rounding granularity).
  *
  * Each entry is declared once, in [[registry]], with its plan and its
  * oracle; every other view of the suite is derived from it. Adding an
  * entry is one registry line plus its definitions in a family trait.
  */
object Queries
    extends QueriesRelational
    with QueriesLifecycle
    with QueriesText
    with QueriesDedup
    with QueriesVector
    with QueriesCuration
    with QueriesRetrieval
    with QueriesStreaming
    with QueriesMultimodal
    with QueriesAudio {

  type Plan = (SparkSession, String) => DataFrame

  /** One entry: its name, its plan over a data dir, its oracle, and
    * whether it runs real Structured Streaming micro-batches. Each
    * streaming entry pays ~3-5 s of fixed overhead (checkpoint init,
    * per-micro-batch planning) that is a bench FLOOR, not dataflow
    * cost; Bench subtotals them separately so the floor does not mask
    * round-over-round comparison of the rest of the suite.
    */
  final case class Entry(name: String, plan: Plan, oracle: Oracle,
                         streaming: Boolean = false)

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = s.read.parquet(s"$dir/$name.parquet")
    // The driver has written events.ts in two parquet physical forms over
    // time: INT64 TIMESTAMP(NANOS) (read as long under
    // spark.sql.legacy.parquet.nanosAsLong, set in Verify/Bench) and plain
    // timestamp[us] with no UTC adjustment (read as TIMESTAMP_NTZ).
    // Normalize both to µs TimestampType so every downstream consumer —
    // unix_micros, window(), typed java.sql.Timestamp encoders — sees one
    // canonical type, matching the `ts::TIMESTAMP` casts on the DuckDB
    // oracle side. NTZ→TZ here is a wall-clock reinterpretation in the
    // session zone; Verify/Bench pin spark.sql.session.timeZone=UTC so it
    // is exactly the identity the oracle applies.
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          acc.withColumn(f.name, timestamp_micros(expr(s"${f.name} div 1000")))
        case TimestampNTZType =>
          acc.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => acc
      }
    }
  }

  // ================================================================ //

  /** The suite, twins sorted directly after their oracle twins. The
    * `BenchOnly` entries are twins on the PRODUCTION path (xxhash64
    * dedup, HNSW, loaded BPE tables, resident serves) whose oracle
    * twins run what DuckDB can replay (`Dedup.Md5`, exhaustive modes);
    * their equivalence to the oracle twin is spec-pinned instead.
    */
  val registry: Seq[Entry] = Seq(
    Entry("q01_pricing_agg", q01, Sql(q01Sql)),
    Entry("q02_enrich_join", q02, Sql(q02Sql)),
    Entry("q03_anti_join", q03, Sql(q03Sql)),
    Entry("q04_semi_join", q04, Sql(q04Sql)),
    Entry("q05_topk_window", q05, Sql(q05Sql)),
    Entry("q06_weighted_topk", q06, Sql(q06Sql)),
    Entry("q07_upsert_merge", q07, Sql(q07Sql)),
    Entry("q08_patch_upsert", q08, Sql(q08Sql)),
    Entry("q09_validate", q09, Sql(q09Sql)),
    Entry("q10_stale_refresh", q10, Sql(q10Sql)),
    Entry("q11_scorecard", q11, Sql(q11Sql)),
    Entry("q12_union_priority", q12, Sql(q12Sql)),
    Entry("q13_tumbling", q13, Sql(q13Sql)),
    Entry("q14_sliding", q14, Sql(q14Sql)),
    Entry("q15_session", q15, Sql(q15Sql)),
    Entry("q16_slugify", q16, Sql(q16Sql)),
    Entry("q17_tokens", q17, Sql(q17Sql)),
    Entry("q18_quality", q18, Sql(q18Sql)),
    Entry("q19_langid", q19, Sql(q19Sql)),
    Entry("q20_fingerprint", q20, Sql(q20Sql)),
    Entry("q21_exact_dedup", q21, Sql(q21Sql)),
    Entry("q22_ngram_jaccard", q22, Sql(q22Sql)),
    Entry("q23_vec_mean", q23, Sql(q23Sql)),
    Entry("q24_cosine_topk", q24, Sql(q24Sql)),
    Entry("q25_minhash_lsh", q25, Sql(q25Sql)),
    Entry("q25x_minhash_xx64", q25x, BenchOnly),
    Entry("q26_simhash", q26, Sql(q26Sql)),
    Entry("q26x_simhash_xx64", q26x, BenchOnly),
    Entry("q27_chunker", q27, Sql(q27Sql)),
    Entry("q28_hash_embed", q28, Sql(q28Sql)),
    Entry("q29_lsh_ann", q29, Sql(q29Sql)),
    Entry("q30_asof_join", q30, Sql(q30Sql)),
    Entry("q31_html_unescape", q31, Sql(q31Sql)),
    Entry("q32_clean_text", q32, Sql(q32Sql)),
    Entry("q33_date_parse", q33, Sql(q33Sql)),
    Entry("q34_md5_uuid", q34, Sql(q34Sql)),
    Entry("q35_ingest_config", q35, Sql(q35Sql)),
    Entry("q36_summarize", q36, Sql(q36Sql)),
    Entry("q37_statements", q37, Sql(q37Sql)),
    Entry("q38_fallback_topk", q38, Sql(q38Sql)),
    Entry("q39_nan_null", q39, Sql(q39Sql)),
    Entry("q40_to_json", q40, Sql(q40Sql)),
    Entry("q41_layout", q41, Sql(q41Sql)),
    Entry("q42_html_extract", q42, Sql(q42Sql)),
    Entry("q43_distinct_union", q43, Sql(q43Sql)),
    Entry("q44_lifecycle", q44, Sql(q44Sql)),
    Entry("q45_frame_plan", q45, Sql(q45Sql)),
    Entry("q46_blob_decode", q46, Sql(q46Sql)),
    Entry("q47_vec_neardup", q47, Sql(q47Sql)),
    Entry("q48_ivf_ann", q48, Sql(q48Sql)),
    Entry("q49_json_props", q49, Sql(q49Sql)),
    Entry("q49x_hnsw_ann", q49x, BenchOnly),
    Entry("q49y_hnsw_resident", q49y, BenchOnly),
    Entry("q50_feed_parse", q50, Sql(q50Sql)),
    Entry("q50x_hnsw_tagged", q50x, BenchOnly),
    Entry("q51_distinct_pct", q51, Sql(q51Sql)),
    Entry("q52_rollup", q52, Sql(q52Sql)),
    Entry("q53_timezone", q53, Sql(q53Sql)),
    Entry("q54_running_sum", q54, Sql(q54Sql)),
    Entry("q55_term_topk", q55, Sql(q55Sql)),
    Entry("q56_pivot", q56, Sql(q56Sql)),
    Entry("q57_edit_distance", q57, Sql(q57Sql)),
    Entry("q58_set_ops", q58, Sql(q58Sql)),
    Entry("q59_ntile_pctrank", q59, Sql(q59Sql)),
    Entry("q60_unpivot", q60, Sql(q60Sql)),
    Entry("q61_dedup_clusters", q61, Sql(q61Sql)),
    Entry("q62_tfidf", q62, Sql(q62Sql)),
    Entry("q63_cube", q63, Sql(q63Sql)),
    Entry("q64_repetition", q64, Sql(q64Sql)),
    Entry("q65_hash_split", q65, Sql(q65Sql)),
    Entry("q66_pack_budget", q66, Sql(q66Sql)),
    Entry("q67_source_quota", q67, Sql(q67Sql)),
    Entry("q68_pii_scrub", q68, Sql(q68Sql)),
    Entry("q69_seeded_shuffle", q69, Sql(q69Sql)),
    Entry("q70_seeded_normal", q70, Sql(q70Sql)),
    Entry("q71_lag_lead", q71, Sql(q71Sql)),
    Entry("q72_string_agg", q72, Sql(q72Sql)),
    Entry("q73_stats_moments", q73, Sql(q73Sql)),
    Entry("q74_curation_pipe", q74, Sql(q74Sql)),
    Entry("q75_scd2_history", q75, Sql(q75Sql)),
    Entry("q76_pq_ann", q76, q76Fitted),
    Entry("q77_ivfpq_ann", q77, Sql(q77Sql)),
    Entry("q78_voice_pick", q78, Sql(q78Sql)),
    Entry("q79_dropneardups", q79, Sql(q79Sql)),
    Entry("q80_incr_dedup", q80, Sql(q80Sql)),
    Entry("q80x_incr_dedup_xx64", q80x, BenchOnly),
    Entry("q81_strat_sample", q81, Sql(q81Sql)),
    Entry("q82_hll_sketch", q82, Sql(q82Sql)),
    Entry("q83_weighted_sample", q83, Sql(q83Sql)),
    Entry("q84_band_join", q84, Sql(q84Sql)),
    Entry("q85_session_window", q85, Sql(q85Sql)),
    Entry("q86_snapshot_diff", q86, Sql(q86Sql)),
    Entry("q87_decontaminate", q87, Sql(q87Sql)),
    Entry("q88_median_mode", q88, Sql(q88Sql)),
    Entry("q89_rate_limit", q89, Sql(q89Sql)),
    Entry("q90_profile", q90, Sql(q90Sql)),
    Entry("q91_salted_join", q91, Sql(q91Sql)),
    Entry("q92_grouping_sets", q92, Sql(q92Sql)),
    Entry("q93_stream_lifecycle", q93, Sql(q93Sql), streaming = true),
    Entry("q94_wav_decode", q94, Sql(q94Sql)),
    Entry("q95_bm25", q95, Sql(q95Sql)),
    Entry("q96_temp_mixture", q96, Sql(q96Sql)),
    Entry("q97_nfc_normalize", q97, Sql(q97Sql)),
    Entry("q98_quantile_sketch", q98, Sql(q98Sql)),
    Entry("q99_bloom_semijoin", q99, Sql(q99Sql)),
    Entry("q100_stream_tumbling", q100, Sql(q100Sql), streaming = true),
    Entry("q101_variant_json", q101, Sql(q101Sql)),
    Entry("q102_cms_heavyhitters", q102, Sql(q102Sql)),
    Entry("q103_incr_rollup", q103, Sql(q103Sql)),
    Entry("q104_cdc_apply", q104, Sql(q104Sql)),
    Entry("q105_refinery", q105, Sql(q105Sql)),
    Entry("q106_bm25_batch", q106, Sql(q106Sql)),
    Entry("q107_stream_join", q107, Sql(q107Sql), streaming = true),
    Entry("q108_sessionize", q108, Sql(q108Sql), streaming = true),
    Entry("q109_png_decode", q109, Sql(q109Sql)),
    Entry("q110_vi_segment", q110, Sql(q110Sql)),
    Entry("q111_stream_refinery", q111, Sql(q111Sql), streaming = true),
    Entry("q112_semantic_dedup", q112, Sql(q112Sql)),
    Entry("q113_sq8_ann", q113, Sql(q113Sql)),
    Entry("q114_sorted_batching", q114, Sql(q114Sql)),
    Entry("q115_hybrid_rrf", q115, Sql(q115Sql)),
    Entry("q116_bm25_index", q116, Sql(q116Sql)),
    Entry("q117_bm25_lifecycle", q117, Sql(q117Sql)),
    Entry("q118_hybrid_lexvec", q118, Sql(q118Sql)),
    Entry("q119_bpe_tokens", q119, Sql(q119Sql)),
    Entry("q119x_bpe_loaded", q119x, BenchOnly),
    Entry("q120_semdedup_ivf", q120, q120Fitted),
    Entry("q121_y4m_decode", q121, Sql(q121Sql)),
    Entry("q122_substr_dedup", q122, Sql(q122Sql)),
    Entry("q122x_substr_xx64", q122x, BenchOnly),
    Entry("q123_ppl_filter", q123, Sql(q123Sql)),
    Entry("q124_png_resize", q124, Sql(q124Sql)),
    Entry("q125_refinery_v2", q125, Sql(q125Sql)),
    Entry("q126_ppl_per_lang", q126, Sql(q126Sql)),
    Entry("q127_wav_stats", q127, Sql(q127Sql)),
    Entry("q128_jpeg_decode", q128, Sql(q128Sql)),
    Entry("q129_hnsw_oracle", q129, Sql(q129Sql)),
    Entry("q130_ann_staleness", q130, q130Fitted),
    Entry("q131_hnsw_sharded_oracle", q131, Sql(q131Sql)),
    Entry("q132_stream_outer_join", q132, Sql(q132Sql), streaming = true),
    Entry("q133_stream_dedup", q133, Sql(q133Sql), streaming = true),
    Entry("q134_jpeg_resize", q134, Sql(q134Sql)),
    Entry("q135_jpeg_ac_fidelity", q135, Sql(q135Sql)),
    Entry("q136_modality_dispatch", q136, Sql(q136Sql)),
    Entry("q137_stream_full_outer", q137, Sql(q137Sql), streaming = true),
    Entry("q138_jpeg_foreign", q138, Sql(q138Sql)),
    Entry("q139_y4m_frame_resize", q139, Sql(q139Sql)),
    Entry("q140_wav_transcode", q140, Sql(q140Sql)),
    Entry("q141_multimodal_transcode", q141, Sql(q141Sql)),
    Entry("q142_stream_right_outer", q142, Sql(q142Sql), streaming = true),
    Entry("q143_wav_windows", q143, Sql(q143Sql)),
    Entry("q144_pagerank", q144, Sql(q144Sql)),
    Entry("q145_mmr_rerank", q145, Sql(q145Sql)),
    Entry("q146_scene_cuts", q146, Sql(q146Sql)),
    Entry("q147_image_phash", q147, Sql(q147Sql)),
    Entry("q148_image_neardup", q148, Sql(q148Sql)),
    Entry("q149_pagerank_resume", q149, Sql(q149Sql)),
    Entry("q149x_pagerank_resume_resident", q149x, BenchOnly),
    Entry("q150_label_prop", q150, Sql(q150Sql)),
    Entry("q151_ppr_weighted", q151, Sql(q151Sql)),
    Entry("q152_wav_resample", q152, Sql(q152Sql)),
    Entry("q153_mp4_meta", q153, Sql(q153Sql)),
    Entry("q154_jpeg_progressive", q154, Sql(q154Sql)),
    Entry("q155_lpa_weighted", q155, Sql(q155Sql)),
    Entry("q156_gzip_text", q156, Sql(q156Sql)),
    Entry("q157_jpeg_exif", q157, Sql(q157Sql)),
    Entry("q158_warc_records", q158, Sql(q158Sql)),
    Entry("q159_wav_normalize", q159, Sql(q159Sql)),
    Entry("q160_text_encoding", q160, Sql(q160Sql)),
    Entry("q161_wet_ingest", q161, Sql(q161Sql)),
    Entry("q162_line_dedup", q162, Sql(q162Sql)),
    Entry("q163_url_canon", q163, Sql(q163Sql)),
    Entry("q164_bq_ann", q164, Sql(q164Sql)),
    Entry("q165_jpeg_autorotate", q165, Sql(q165Sql)),
    Entry("q166_wav_trim", q166, Sql(q166Sql)),
    Entry("q167_bpe_train", q167, Sql(q167Sql)),
    Entry("q168_mp3_meta", q168, Sql(q168Sql)),
    Entry("q169_audio_dispatch", q169, Sql(q169Sql)),
    Entry("q170_domain", q170, Sql(q170Sql)),
    Entry("q171_robots", q171, Sql(q171Sql)),
    Entry("q172_frontier", q172, Sql(q172Sql)),
    Entry("q173_bpe_resume", q173, Sql(q173Sql)),
    Entry("q174_orc_warehouse", q174, Sql(q174Sql)),
    Entry("q175_id3_tags", q175, Sql(q175Sql)),
    Entry("q176_ogg_meta", q176, Sql(q176Sql)),
    Entry("q177_tar_members", q177, Sql(q177Sql)),
    Entry("q178_link_graph", q178, Sql(q178Sql)),
    Entry("q179_quality_lr", q179, q179Fitted),
    Entry("q180_stream_frontier", q180, Sql(q180Sql)),
    Entry("q181_decompress", q181, Sql(q181Sql)),
    Entry("q182_expectations", q182, Sql(q182Sql)),
    Entry("q183_crawl_schedule", q183, Sql(q183Sql)),
    Entry("q184_sitemap_seed", q184, Sql(q184Sql)),
    Entry("q185_collocations", q185, Sql(q185Sql)),
    Entry("q186_weighted_linkrank", q186, Sql(q186Sql)),
    Entry("q187_audio_tag_dedup", q187, Sql(q187Sql)),
    Entry("q188_zip_members", q188, Sql(q188Sql)),
    Entry("q189_envelope_dispatch", q189, Sql(q189Sql)),
    Entry("q190_pruned_dedup_serve", q190, Sql(q190Sql)),
    Entry("q190x_pruned_serve_resident", q190x, BenchOnly),
    Entry("q191_cluster_sample", q191, q191Fitted),
    Entry("q192_image_quality", q192, Sql(q192Sql)),
    Entry("q193_hits", q193, Sql(q193Sql)),
    Entry("q194_mixed_image_quality", q194, Sql(q194Sql)),
    Entry("q195_mp4_samples", q195, Sql(q195Sql)),
    Entry("q196_flac_pcm", q196, Sql(q196Sql)),
    Entry("q197_gif_webp_resize", q197, Sql(q197Sql)),
    Entry("q198_warc_http", q198, Sql(q198Sql)),
    Entry("q199_lossy_webp_quality", q199, Sql(q199Sql)),
    Entry("q200_pdf_text", q200, Sql(q200Sql)),
    Entry("q201_subtitle_cues", q201, Sql(q201Sql)),
    Entry("q202_epub_text", q202, Sql(q202Sql)),
    Entry("q203_docx_text", q203, Sql(q203Sql)),
    Entry("q204_bucketed_join", q204, Sql(q204Sql)),
    Entry("q205_bmp_quality", q205, Sql(q205Sql)),
    Entry("q206_g711_wav", q206, Sql(q206Sql)),
    Entry("q207_mpegts_streams", q207, Sql(q207Sql)),
    Entry("q208_adts_frames", q208, Sql(q208Sql)),
    Entry("q209_doc_dispatch", q209, Sql(q209Sql)),
    Entry("q210_tiff_quality", q210, Sql(q210Sql)),
    Entry("q211_vp8_foreign", q211, Sql(q211Sql)),
    Entry("q212_container_audio", q212, Sql(q212Sql)),
    Entry("q213_avif_meta", q213, Sql(q213Sql)),
    Entry("q214_7z_members", q214, Sql(q214Sql)),
    Entry("q215_tarxz_ingest", q215, Sql(q215Sql))
  )

  val byName: Map[String, Entry] = registry.map(e => e.name -> e).toMap

  /** The Verify/oracle contract: every entry with an oracle. */
  val all: Map[String, Plan] =
    registry.collect { case e if e.oracle != BenchOnly => e.name -> e.plan }
      .toMap

  val benchOnly: Map[String, Plan] =
    registry.collect { case e if e.oracle == BenchOnly => e.name -> e.plan }
      .toMap

  val streamingQueries: Set[String] =
    registry.filter(_.streaming).map(_.name).toSet

  /** Every oracle's SQL. Fitted oracles appear once their entry has run
    * in this JVM, so the driver reads this after running the queries.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(e => e.oracle.sql.map(e.name -> _)).toMap

  // ---------------------------------------------------- bench-only twins

  private[queries] def q25x(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    val dup = docs.filter($"doc_id" < 50)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
    Dedup.minhashCandidates(docs.unionByName(dup), "text", "doc_id")
      .orderBy($"id_a", $"id_b")
  }

  private[queries] def q26x(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    val dup = docs.filter($"doc_id" < 50)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
    Dedup.simhashCandidates(docs.unionByName(dup), "text", "doc_id")
      .orderBy($"id_a", $"id_b")
  }

  private[queries] def q49x(s: SparkSession, dir: String): DataFrame = {
    // true HNSW (operators/Hnsw): sharded build + ef=128 serve over
    // the embeddings table — timed so the reference's own index
    // structure has a throughput number next to the IVF/PQ/SQ8
    // substitutes; approximate by construction (recall pinned in
    // HnswSpec/RecallCurveSpec: 0.99 clustered / 1.00 uniform at
    // ef=128), so it is bench-only like the other xx-twins. Name
    // sorts next to q48 (IVF), its oracle-mode sibling.
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val index = Hnsw.buildShards(emb, "vec_id", "embedding", shards = 8)
    Hnsw.topK(index, emb.filter($"vec_id" < 50), "vec_id", "embedding",
        k = 10, ef = 128)
      .orderBy($"q_id", $"rank")
  }

  private[queries] def q49y(s: SparkSession, dir: String): DataFrame = {
    // RESIDENT-serve twin of q49x: sharded HNSW engines amortize the
    // graph build across query batches by keeping shards resident;
    // here the prepared (shard-co-located) index is built + cached
    // ONCE, materialized eagerly, then EIGHT 50-query batches serve
    // through topKResident with zero index movement. q49x times
    // build + one batch; this entry times build + 8 batches on the
    // cached index, so (q49y - q49x)/7 ≈ marginal per-batch serve
    // cost — the number SCALE.md's amortization claim rests on.
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val prepared = Hnsw.prepare(
      Hnsw.buildShards(emb, "vec_id", "embedding", shards = 8)).cache()
    prepared.count()                  // resident: built exactly once
    (0 until 8).map { b =>
      Hnsw.topKResident(prepared,
        emb.filter($"vec_id" >= b * 50 && $"vec_id" < (b + 1) * 50),
        "vec_id", "embedding", k = 10, ef = 128)
    }.reduce(_ unionByName _).orderBy($"q_id", $"rank")
  }

  private[queries] def q50x(s: SparkSession, dir: String): DataFrame = {
    // tag-partitioned HNSW: the reference's filtered related-articles
    // query (same topic must + own-id must_not + top 6 + ef=128,
    // get_relevant_articles.py:64-88) with the label standing in for
    // topic_id — one graph per tag, queries route to one shard each
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val (index, tagMap) = Hnsw.buildTagged(emb, "vec_id", "embedding",
      "label")
    Hnsw.topKTagged(index, tagMap, emb.filter($"vec_id" < 50),
        "vec_id", "embedding", "label", k = 6, ef = 128)
      .orderBy($"q_id", $"rank")
  }

  private[queries] def q80x(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    val index = docs.filter($"doc_id" % 5 =!= 0)
    val delta = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
    Dedup.incrementalCandidates(
        Dedup.minhashSignatures(index, "text", "doc_id"),
        Dedup.minhashSignatures(delta, "text", "doc_id"))
      .orderBy($"id_a", $"id_b")
  }

  private[queries] def q122x(s: SparkSession, dir: String): DataFrame = {
    // q122's production path: multi-arg xxhash64 gram fingerprints
    // over the FULL documents table (no 400-doc cap, no planted
    // boilerplate — whatever naturally repeats, dedups), timed so
    // the substring-dedup production hash has a throughput number
    // next to its md5 oracle twin. Xx64 ≡ Md5 span agreement is
    // spec-pinned in DedupSpec.
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    Dedup.stripDuplicateSpans(docs, "doc_id", "text",
        Dedup.duplicateSpans(docs, "doc_id", "text", k = 6))
      .orderBy($"doc_id")
  }

  private[queries] def q119x(s: SparkSession, dir: String): DataFrame = {
    // q119's loaded-scale twin: a 5,200-rule synthetic merge table
    // (the GPT-2-class size bpeMergesFrom advertises) counted over
    // the FULL documents table through the min-rank merge-loop
    // expression — the path a real loaded vocabulary takes. The toy
    // q119 times the ≤128-rule replace chain; this times the
    // table-size-independent loop, so the "loaded tables scale"
    // claim has a number. Loop ≡ chain is BpeLoopSpec-pinned.
    import s.implicits._
    val letters = ('a' to 'z').map(_.toString)
    val len2 = for (x <- letters; y <- letters) yield (x, y)
    val len3 = (for (xy <- len2.map(p => p._1 + p._2); z <- letters)
      yield (xy, z)).take(5200 - len2.length)
    t(s, dir, "documents").select($"doc_id",
        graft.operators.TextAnalysis
          .bpePieceCount($"text", len2 ++ len3)
          .cast("long").as("bpe_tokens"))
      .orderBy($"doc_id")
  }

  private[queries] def q190x(s: SparkSession, dir: String): DataFrame = {
    // q190's amortized twin (the q49y resident pattern): q190 times
    // index BUILD + one pruned serve in a single number, so the
    // pruned serve's cheapness is illegible. Here the banded parquet
    // index is built ONCE, then EIGHT independent deltas probe it
    // through incrementalCandidatesPruned (band-key In() scan
    // pushdown) — so (q190x - q190)/7 ≈ marginal pruned-serve cost,
    // the number the "persisted index makes dedup admission cheap at
    // 100 TB" claim rests on. Oracle unchanged: pruned ≡ recompute
    // is q190's green entry; this twin only exposes the timing.
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q190x")
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    val index = docs.filter($"doc_id" % 5 =!= 0)
    graft.Observe.time("build") {
      Layout.byKey(Dedup.bandBuckets(
          Dedup.minhashSignatures(index, "text", "doc_id",
            hash = Dedup.Md5), hash = Dedup.Md5), "band_hash", 4)
        .write.mode("overwrite").parquet(s"$tmp/idx")
    }
    val persisted = s.read.parquet(s"$tmp/idx")
    (0 until 8).map { b =>
      // per-batch probe: each serve's CONSTRUCTION (delta signature
      // compute + band-key collect) is timed per batch so the
      // entry's scalar decomposes in the bench probe line
      graft.Observe.time(s"serve$b") {
        val delta = docs.filter($"doc_id" % 5 === 0)
          .select(($"doc_id" + 10000000L * (b + 1)).as("doc_id"),
            $"text")
        Dedup.incrementalCandidatesPruned(persisted,
          Dedup.bandBuckets(Dedup.minhashSignatures(delta, "text",
            "doc_id", hash = Dedup.Md5), hash = Dedup.Md5))
      }
    }.reduce(_ unionByName _).orderBy($"id_a", $"id_b")
  }

  private[queries] def q149x(s: SparkSession, dir: String): DataFrame = {
    // q149's amortized twin: q149 times a 5-iteration cold fit PLUS
    // one 2-iteration warm resume in a single number, hiding the
    // resume's 2-vs-5 advantage. Here the prior is fitted ONCE
    // (eager — pageRank's iterCut materializes it), then EIGHT
    // 2-iteration resumes run against it with per-batch edge deltas
    // — so (q149x - q149)/7 ≈ marginal warm-resume cost. Resume ≡
    // continued-iteration correctness is q149's green oracle; this
    // twin only exposes the timing.
    import s.implicits._
    val nodes = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id")
    val edges = nodes
      .select($"doc_id",
        explode(sequence(lit(1L), lit(1L) + $"doc_id" % 3)).as("j"))
      .select($"doc_id".as("src"),
        (($"doc_id" * 17 + $"j" * 61) % 200).as("dst"))
    val prior = Graph.pageRank(edges, nodes, "src", "dst",
      iterations = 5)
    (0 until 8).map { b =>
      val delta = nodes.filter($"doc_id" % 4 === 0)
        .select($"doc_id".as("src"),
          (($"doc_id" * 29 + 97 + b) % 200).as("dst"))
      Graph.pageRankResume(edges.unionByName(delta), nodes, "src",
          "dst", prior, iterations = 2)
        .select(lit(b).as("batch"), $"node", $"rank")
    }.reduce(_ unionByName _).orderBy($"batch", $"node")
  }
}
