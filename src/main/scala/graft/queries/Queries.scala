package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{ColumnPlugins, Text, Vectors}
import graft.operators._

/** The engine's demonstrable query suite: one entry per operator family
  * from SURVEY.md §2 (+ the large-scale curation extensions), each with
  * a DuckDB-runnable oracle where SQL can express the semantics.
  *
  * Column names and types are aligned pairwise between the Spark plan
  * and the oracle SQL — the driver's compare hashes values under sorted
  * column names. Nondeterministic orderings are always tie-broken by a
  * unique key; floating aggregates are rounded identically on both
  * sides (engine-difference ≈1e-15 ≪ rounding granularity).
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

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_agg"   -> (q01 _),
    "q02_enrich_join"   -> (q02 _),
    "q03_anti_join"     -> (q03 _),
    "q04_semi_join"     -> (q04 _),
    "q05_topk_window"   -> (q05 _),
    "q06_weighted_topk" -> (q06 _),
    "q07_upsert_merge"  -> (q07 _),
    "q08_patch_upsert"  -> (q08 _),
    "q09_validate"      -> (q09 _),
    "q10_stale_refresh" -> (q10 _),
    "q11_scorecard"     -> (q11 _),
    "q12_union_priority"-> (q12 _),
    "q13_tumbling"      -> (q13 _),
    "q14_sliding"       -> (q14 _),
    "q15_session"       -> (q15 _),
    "q16_slugify"       -> (q16 _),
    "q17_tokens"        -> (q17 _),
    "q18_quality"       -> (q18 _),
    "q19_langid"        -> (q19 _),
    "q20_fingerprint"   -> (q20 _),
    "q21_exact_dedup"   -> (q21 _),
    "q22_ngram_jaccard" -> (q22 _),
    "q23_vec_mean"      -> (q23 _),
    "q24_cosine_topk"   -> (q24 _),
    "q25_minhash_lsh"   -> (q25 _),
    "q26_simhash"       -> (q26 _),
    "q27_chunker"       -> (q27 _),
    "q28_hash_embed"    -> (q28 _),
    "q29_lsh_ann"       -> (q29 _),
    "q30_asof_join"     -> (q30 _),
    "q31_html_unescape" -> (q31 _),
    "q32_clean_text"    -> (q32 _),
    "q33_date_parse"    -> (q33 _),
    "q34_md5_uuid"      -> (q34 _),
    "q35_ingest_config" -> (q35 _),
    "q36_summarize"     -> (q36 _),
    "q37_statements"    -> (q37 _),
    "q38_fallback_topk" -> (q38 _),
    "q39_nan_null"      -> (q39 _),
    "q40_to_json"       -> (q40 _),
    "q41_layout"        -> (q41 _),
    "q42_html_extract"  -> (q42 _),
    "q43_distinct_union"-> (q43 _),
    "q44_lifecycle"     -> (q44 _),
    "q45_frame_plan"    -> (q45 _),
    "q46_blob_decode"   -> (q46 _),
    "q47_vec_neardup"   -> (q47 _),
    "q48_ivf_ann"       -> (q48 _),
    "q49_json_props"    -> (q49 _),
    "q50_feed_parse"    -> (q50 _),
    "q51_distinct_pct"  -> (q51 _),
    "q52_rollup"        -> (q52 _),
    "q53_timezone"      -> (q53 _),
    "q54_running_sum"   -> (q54 _),
    "q55_term_topk"     -> (q55 _),
    "q56_pivot"         -> (q56 _),
    "q57_edit_distance" -> (q57 _),
    "q58_set_ops"       -> (q58 _),
    "q59_ntile_pctrank" -> (q59 _),
    "q60_unpivot"       -> (q60 _),
    "q61_dedup_clusters"-> (q61 _),
    "q62_tfidf"         -> (q62 _),
    "q63_cube"          -> (q63 _),
    "q64_repetition"    -> (q64 _),
    "q65_hash_split"    -> (q65 _),
    "q66_pack_budget"   -> (q66 _),
    "q67_source_quota"  -> (q67 _),
    "q68_pii_scrub"     -> (q68 _),
    "q69_seeded_shuffle"-> (q69 _),
    "q70_seeded_normal" -> (q70 _),
    "q71_lag_lead"      -> (q71 _),
    "q72_string_agg"    -> (q72 _),
    "q73_stats_moments" -> (q73 _),
    "q74_curation_pipe" -> (q74 _),
    "q75_scd2_history"  -> (q75 _),
    "q76_pq_ann"        -> (q76 _),
    "q77_ivfpq_ann"     -> (q77 _),
    "q78_voice_pick"    -> (q78 _),
    "q79_dropneardups"  -> (q79 _),
    "q80_incr_dedup"    -> (q80 _),
    "q81_strat_sample"  -> (q81 _),
    "q82_hll_sketch"    -> (q82 _),
    "q83_weighted_sample" -> (q83 _),
    "q84_band_join"     -> (q84 _),
    "q85_session_window"-> (q85 _),
    "q86_snapshot_diff" -> (q86 _),
    "q87_decontaminate" -> (q87 _),
    "q88_median_mode"   -> (q88 _),
    "q89_rate_limit"    -> (q89 _),
    "q90_profile"       -> (q90 _),
    "q91_salted_join"   -> (q91 _),
    "q92_grouping_sets" -> (q92 _),
    "q93_stream_lifecycle" -> (q93 _),
    "q94_wav_decode"    -> (q94 _),
    "q95_bm25"          -> (q95 _),
    "q96_temp_mixture"  -> (q96 _),
    "q97_nfc_normalize" -> (q97 _),
    "q98_quantile_sketch" -> (q98 _),
    "q99_bloom_semijoin" -> (q99 _),
    "q100_stream_tumbling" -> (q100 _),
    "q101_variant_json" -> (q101 _),
    "q102_cms_heavyhitters" -> (q102 _),
    "q103_incr_rollup"  -> (q103 _),
    "q104_cdc_apply"    -> (q104 _),
    "q105_refinery"     -> (q105 _),
    "q106_bm25_batch"   -> (q106 _),
    "q107_stream_join"  -> (q107 _),
    "q108_sessionize"   -> (q108 _),
    "q109_png_decode"   -> (q109 _),
    "q110_vi_segment"   -> (q110 _),
    "q111_stream_refinery" -> (q111 _),
    "q112_semantic_dedup" -> (q112 _),
    "q113_sq8_ann"      -> (q113 _),
    "q114_sorted_batching" -> (q114 _),
    "q115_hybrid_rrf"   -> (q115 _),
    "q116_bm25_index"   -> (q116 _),
    "q117_bm25_lifecycle" -> (q117 _),
    "q118_hybrid_lexvec" -> (q118 _),
    "q119_bpe_tokens"   -> (q119 _),
    "q120_semdedup_ivf" -> (q120 _),
    "q121_y4m_decode"   -> (q121 _),
    "q122_substr_dedup" -> (q122 _),
    "q123_ppl_filter"   -> (q123 _),
    "q124_png_resize"   -> (q124 _),
    "q125_refinery_v2"  -> (q125 _),
    "q126_ppl_per_lang" -> (q126 _),
    "q127_wav_stats"    -> (q127 _),
    "q128_jpeg_decode"  -> (q128 _),
    "q129_hnsw_oracle"  -> (q129 _),
    "q130_ann_staleness" -> (q130 _),
    "q131_hnsw_sharded_oracle" -> (q131 _),
    "q132_stream_outer_join" -> (q132 _),
    "q133_stream_dedup" -> (q133 _),
    "q134_jpeg_resize"  -> (q134 _),
    "q135_jpeg_ac_fidelity" -> (q135 _),
    "q136_modality_dispatch" -> (q136 _),
    "q137_stream_full_outer" -> (q137 _),
    "q138_jpeg_foreign" -> (q138 _),
    "q139_y4m_frame_resize" -> (q139 _),
    "q140_wav_transcode" -> (q140 _),
    "q141_multimodal_transcode" -> (q141 _),
    "q142_stream_right_outer" -> (q142 _),
    "q143_wav_windows" -> (q143 _),
    "q144_pagerank"     -> (q144 _),
    "q145_mmr_rerank"   -> (q145 _),
    "q146_scene_cuts"   -> (q146 _),
    "q147_image_phash"  -> (q147 _),
    "q148_image_neardup" -> (q148 _),
    "q149_pagerank_resume" -> (q149 _),
    "q150_label_prop"   -> (q150 _),
    "q151_ppr_weighted" -> (q151 _),
    "q152_wav_resample" -> (q152 _),
    "q153_mp4_meta"     -> (q153 _),
    "q154_jpeg_progressive" -> (q154 _),
    "q155_lpa_weighted" -> (q155 _),
    "q156_gzip_text"    -> (q156 _),
    "q157_jpeg_exif"    -> (q157 _),
    "q158_warc_records" -> (q158 _),
    "q159_wav_normalize" -> (q159 _),
    "q160_text_encoding" -> (q160 _),
    "q161_wet_ingest"   -> (q161 _),
    "q162_line_dedup"   -> (q162 _),
    "q163_url_canon"    -> (q163 _),
    "q164_bq_ann"       -> (q164 _),
    "q165_jpeg_autorotate" -> (q165 _),
    "q166_wav_trim"     -> (q166 _),
    "q167_bpe_train"    -> (q167 _),
    "q168_mp3_meta"     -> (q168 _),
    "q169_audio_dispatch" -> (q169 _),
    "q170_domain"       -> (q170 _),
    "q171_robots"       -> (q171 _),
    "q172_frontier"     -> (q172 _),
    "q173_bpe_resume"   -> (q173 _),
    "q174_orc_warehouse" -> (q174 _),
    "q175_id3_tags"     -> (q175 _),
    "q176_ogg_meta"     -> (q176 _),
    "q177_tar_members"  -> (q177 _),
    "q178_link_graph"   -> (q178 _),
    "q179_quality_lr"   -> (q179 _),
    "q180_stream_frontier" -> (q180 _),
    "q181_decompress"   -> (q181 _),
    "q182_expectations" -> (q182 _),
    "q183_crawl_schedule" -> (q183 _),
    "q184_sitemap_seed" -> (q184 _),
    "q185_collocations" -> (q185 _),
    "q186_weighted_linkrank" -> (q186 _),
    "q187_audio_tag_dedup" -> (q187 _),
    "q188_zip_members"  -> (q188 _),
    "q189_envelope_dispatch" -> (q189 _),
    "q190_pruned_dedup_serve" -> (q190 _),
    "q191_cluster_sample" -> (q191 _),
    "q192_image_quality" -> (q192 _),
    "q193_hits" -> (q193 _),
    "q194_mixed_image_quality" -> (q194 _),
    "q195_mp4_samples" -> (q195 _),
    "q196_flac_pcm" -> (q196 _),
    "q197_gif_webp_resize" -> (q197 _),
    "q198_warc_http" -> (q198 _),
    "q199_lossy_webp_quality" -> (q199 _),
    "q200_pdf_text" -> (q200 _),
    "q201_subtitle_cues" -> (q201 _),
    "q202_epub_text" -> (q202 _),
    "q203_docx_text" -> (q203 _),
    "q204_bucketed_join" -> (q204 _),
    "q205_bmp_quality" -> (q205 _),
    "q206_g711_wav" -> (q206 _),
    "q207_mpegts_streams" -> (q207 _),
    "q208_adts_frames" -> (q208 _),
    "q209_doc_dispatch" -> (q209 _),
    "q210_tiff_quality" -> (q210 _),
    "q211_vp8_foreign" -> (q211 _),
    "q212_container_audio" -> (q212 _),
    "q213_avif_meta" -> (q213 _),
    "q214_7z_members" -> (q214 _),
    "q215_tarxz_ingest" -> (q215 _)
  )

  /** Queries that run real Structured Streaming micro-batches. Each
    * pays ~3-5 s of fixed overhead (checkpoint init, per-micro-batch
    * planning) that is a bench FLOOR, not dataflow cost — at real
    * scale it amortizes over GB-sized batches. Bench subtotals these
    * separately so round-over-round comparison of the non-streaming
    * suite isn't masked by the floor.
    */
  val streamingQueries: Set[String] = Set(
    "q93_stream_lifecycle", "q100_stream_tumbling", "q107_stream_join",
    "q108_sessionize", "q111_stream_refinery", "q132_stream_outer_join",
    "q133_stream_dedup", "q137_stream_full_outer",
    "q142_stream_right_outer")

  /** Bench-only twins of the dedup family on the PRODUCTION xxhash64
    * hash path. q25/q26/q80 run `Dedup.Md5` because that is what the
    * DuckDB oracle can replay — which left the Xx64 fast path (the one
    * a 100 TB job actually runs) unmeasured: a throughput regression
    * there would be invisible to the driver bench. These twins are
    * timed by Bench but are NOT part of the Verify/oracle contract
    * (Xx64 ≡ Md5 candidate semantics modulo hash family is spec-pinned
    * in DedupSpec). Names sort directly after their oracle twins so
    * the bench JSON reads pairwise.
    */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q25x_minhash_xx64" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val dup = docs.filter($"doc_id" < 50)
        .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
      Dedup.minhashCandidates(docs.unionByName(dup), "text", "doc_id")
        .orderBy($"id_a", $"id_b")
    }),
    "q26x_simhash_xx64" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val dup = docs.filter($"doc_id" < 50)
        .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
      Dedup.simhashCandidates(docs.unionByName(dup), "text", "doc_id")
        .orderBy($"id_a", $"id_b")
    }),
    "q49x_hnsw_ann" -> ((s: SparkSession, dir: String) => {
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
    }),
    "q49y_hnsw_resident" -> ((s: SparkSession, dir: String) => {
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
    }),
    "q50x_hnsw_tagged" -> ((s: SparkSession, dir: String) => {
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
    }),
    "q80x_incr_dedup_xx64" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val index = docs.filter($"doc_id" % 5 =!= 0)
      val delta = docs.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
      Dedup.incrementalCandidates(
          Dedup.minhashSignatures(index, "text", "doc_id"),
          Dedup.minhashSignatures(delta, "text", "doc_id"))
        .orderBy($"id_a", $"id_b")
    }),
    "q122x_substr_xx64" -> ((s: SparkSession, dir: String) => {
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
    }),
    "q119x_bpe_loaded" -> ((s: SparkSession, dir: String) => {
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
    }),
    "q190x_pruned_serve_resident" -> ((s: SparkSession, dir: String) => {
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
    }),
    "q149x_pagerank_resume_resident" -> ((s: SparkSession, dir: String) => {
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
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_agg"   -> q01Sql,
    "q02_enrich_join"   -> q02Sql,
    "q03_anti_join"     -> q03Sql,
    "q04_semi_join"     -> q04Sql,
    "q05_topk_window"   -> q05Sql,
    "q06_weighted_topk" -> q06Sql,
    "q07_upsert_merge"  -> q07Sql,
    "q08_patch_upsert"  -> q08Sql,
    "q09_validate"      -> q09Sql,
    "q10_stale_refresh" -> q10Sql,
    "q11_scorecard"     -> q11Sql,
    "q12_union_priority"-> q12Sql,
    "q13_tumbling"      -> q13Sql,
    "q14_sliding"       -> q14Sql,
    "q15_session"       -> q15Sql,
    "q16_slugify"       -> q16Sql,
    "q17_tokens"        -> q17Sql,
    "q18_quality"       -> q18Sql,
    "q19_langid"        -> q19Sql,
    "q20_fingerprint"   -> q20Sql,
    "q21_exact_dedup"   -> q21Sql,
    "q22_ngram_jaccard" -> q22Sql,
    "q23_vec_mean"      -> q23Sql,
    "q24_cosine_topk"   -> q24Sql,
    "q25_minhash_lsh"   -> q25Sql,
    "q26_simhash"       -> q26Sql,
    "q27_chunker"       -> q27Sql,
    "q28_hash_embed"    -> q28Sql,
    "q29_lsh_ann"       -> q29Sql,
    "q30_asof_join"     -> q30Sql,
    "q31_html_unescape" -> q31Sql,
    "q32_clean_text"    -> q32Sql,
    "q33_date_parse"    -> q33Sql,
    "q34_md5_uuid"      -> q34Sql,
    "q35_ingest_config" -> q35Sql,
    "q36_summarize"     -> q36Sql,
    "q37_statements"    -> q37Sql,
    "q38_fallback_topk" -> q38Sql,
    "q39_nan_null"      -> q39Sql,
    "q40_to_json"       -> q40Sql,
    "q41_layout"        -> q41Sql,
    "q42_html_extract"  -> q42Sql,
    "q43_distinct_union"-> q43Sql,
    "q44_lifecycle"     -> q44Sql,
    "q45_frame_plan"    -> q45Sql,
    "q46_blob_decode"   -> q46Sql,
    "q47_vec_neardup"   -> q47Sql,
    "q48_ivf_ann"       -> q48Sql,
    "q49_json_props"    -> q49Sql,
    "q50_feed_parse"    -> q50Sql,
    "q51_distinct_pct"  -> q51Sql,
    "q52_rollup"        -> q52Sql,
    "q53_timezone"      -> q53Sql,
    "q54_running_sum"   -> q54Sql,
    "q55_term_topk"     -> q55Sql,
    "q56_pivot"         -> q56Sql,
    "q57_edit_distance" -> q57Sql,
    "q58_set_ops"       -> q58Sql,
    "q59_ntile_pctrank" -> q59Sql,
    "q60_unpivot"       -> q60Sql,
    "q61_dedup_clusters"-> q61Sql,
    "q62_tfidf"         -> q62Sql,
    "q63_cube"          -> q63Sql,
    "q64_repetition"    -> q64Sql,
    "q65_hash_split"    -> q65Sql,
    "q66_pack_budget"   -> q66Sql,
    "q67_source_quota"  -> q67Sql,
    "q68_pii_scrub"     -> q68Sql,
    "q69_seeded_shuffle"-> q69Sql,
    "q70_seeded_normal" -> q70Sql,
    "q71_lag_lead"      -> q71Sql,
    "q72_string_agg"    -> q72Sql,
    "q73_stats_moments" -> q73Sql,
    "q74_curation_pipe" -> q74Sql,
    "q75_scd2_history"  -> q75Sql,
    "q77_ivfpq_ann"     -> q77Sql,
    "q78_voice_pick"    -> q78Sql,
    "q79_dropneardups"  -> q79Sql,
    "q80_incr_dedup"    -> q80Sql,
    "q81_strat_sample"  -> q81Sql,
    "q82_hll_sketch"    -> q82Sql,
    "q83_weighted_sample" -> q83Sql,
    "q84_band_join"     -> q84Sql,
    "q85_session_window"-> q85Sql,
    "q86_snapshot_diff" -> q86Sql,
    "q87_decontaminate" -> q87Sql,
    "q88_median_mode"   -> q88Sql,
    "q89_rate_limit"    -> q89Sql,
    "q90_profile"       -> q90Sql,
    "q91_salted_join"   -> q91Sql,
    "q92_grouping_sets" -> q92Sql,
    "q93_stream_lifecycle" -> q93Sql,
    "q94_wav_decode"    -> q94Sql,
    "q95_bm25"          -> q95Sql,
    "q96_temp_mixture"  -> q96Sql,
    "q97_nfc_normalize" -> q97Sql,
    "q98_quantile_sketch" -> q98Sql,
    "q99_bloom_semijoin" -> q99Sql,
    "q100_stream_tumbling" -> q100Sql,
    "q101_variant_json" -> q101Sql,
    "q102_cms_heavyhitters" -> q102Sql,
    "q103_incr_rollup"  -> q103Sql,
    "q104_cdc_apply"    -> q104Sql,
    "q105_refinery"     -> q105Sql,
    "q106_bm25_batch"   -> q106Sql,
    "q107_stream_join"  -> q107Sql,
    "q108_sessionize"   -> q108Sql,
    "q109_png_decode"   -> q109Sql,
    "q110_vi_segment"   -> q110Sql,
    "q111_stream_refinery" -> q111Sql,
    "q112_semantic_dedup" -> q112Sql,
    "q113_sq8_ann"      -> q113Sql,
    "q114_sorted_batching" -> q114Sql,
    "q115_hybrid_rrf"   -> q115Sql,
    "q116_bm25_index"   -> q116Sql,
    "q117_bm25_lifecycle" -> q117Sql,
    "q118_hybrid_lexvec" -> q118Sql,
    "q119_bpe_tokens"   -> q119Sql,
    "q121_y4m_decode"   -> q121Sql,
    "q122_substr_dedup" -> q122Sql,
    "q123_ppl_filter"   -> q123Sql,
    "q124_png_resize"   -> q124Sql,
    "q125_refinery_v2"  -> q125Sql,
    "q126_ppl_per_lang" -> q126Sql,
    "q127_wav_stats"    -> q127Sql,
    "q128_jpeg_decode"  -> q128Sql,
    "q129_hnsw_oracle"  -> q129Sql,
    "q131_hnsw_sharded_oracle" -> q131Sql,
    "q132_stream_outer_join" -> q132Sql,
    "q133_stream_dedup" -> q133Sql,
    "q134_jpeg_resize"  -> q134Sql,
    "q135_jpeg_ac_fidelity" -> q135Sql,
    "q136_modality_dispatch" -> q136Sql,
    "q137_stream_full_outer" -> q137Sql,
    "q138_jpeg_foreign" -> q138Sql,
    "q139_y4m_frame_resize" -> q139Sql,
    "q140_wav_transcode" -> q140Sql,
    "q141_multimodal_transcode" -> q141Sql,
    "q142_stream_right_outer" -> q142Sql,
    "q143_wav_windows" -> q143Sql,
    "q144_pagerank"     -> q144Sql,
    "q145_mmr_rerank"   -> q145Sql,
    "q146_scene_cuts"   -> q146Sql,
    "q147_image_phash"  -> q147Sql,
    "q148_image_neardup" -> q148Sql,
    "q149_pagerank_resume" -> q149Sql,
    "q150_label_prop"   -> q150Sql,
    "q151_ppr_weighted" -> q151Sql,
    "q152_wav_resample" -> q152Sql,
    "q153_mp4_meta"     -> q153Sql,
    "q154_jpeg_progressive" -> q154Sql,
    "q155_lpa_weighted" -> q155Sql,
    "q156_gzip_text"    -> q156Sql,
    "q157_jpeg_exif"    -> q157Sql,
    "q158_warc_records" -> q158Sql,
    "q159_wav_normalize" -> q159Sql,
    "q160_text_encoding" -> q160Sql,
    "q161_wet_ingest"   -> q161Sql,
    "q162_line_dedup"   -> q162Sql,
    "q163_url_canon"    -> q163Sql,
    "q164_bq_ann"       -> q164Sql,
    "q165_jpeg_autorotate" -> q165Sql,
    "q166_wav_trim"     -> q166Sql,
    "q167_bpe_train"    -> q167Sql,
    "q168_mp3_meta"     -> q168Sql,
    "q169_audio_dispatch" -> q169Sql,
    "q170_domain"       -> q170Sql,
    "q171_robots"       -> q171Sql,
    "q172_frontier"     -> q172Sql,
    "q173_bpe_resume"   -> q173Sql,
    "q174_orc_warehouse" -> q174Sql,
    "q175_id3_tags"     -> q175Sql,
    "q176_ogg_meta"     -> q176Sql,
    "q177_tar_members"  -> q177Sql,
    "q178_link_graph"   -> q178Sql,
    "q180_stream_frontier" -> q180Sql,
    "q181_decompress"   -> q181Sql,
    "q182_expectations" -> q182Sql,
    "q183_crawl_schedule" -> q183Sql,
    "q184_sitemap_seed" -> q184Sql,
    "q185_collocations" -> q185Sql,
    "q186_weighted_linkrank" -> q186Sql,
    "q187_audio_tag_dedup" -> q187Sql,
    "q188_zip_members"  -> q188Sql,
    "q189_envelope_dispatch" -> q189Sql,
    "q190_pruned_dedup_serve" -> q190Sql,
    "q192_image_quality" -> q192Sql,
    "q193_hits" -> q193Sql,
    "q194_mixed_image_quality" -> q194Sql,
    "q195_mp4_samples" -> q195Sql,
    "q196_flac_pcm" -> q196Sql,
    "q197_gif_webp_resize" -> q197Sql,
    "q198_warc_http" -> q198Sql,
    "q199_lossy_webp_quality" -> q199Sql,
    "q200_pdf_text" -> q200Sql,
    "q201_subtitle_cues" -> q201Sql,
    "q202_epub_text" -> q202Sql,
    "q203_docx_text" -> q203Sql,
    "q204_bucketed_join" -> q204Sql,
    "q205_bmp_quality" -> q205Sql,
    "q206_g711_wav" -> q206Sql,
    "q207_mpegts_streams" -> q207Sql,
    "q208_adts_frames" -> q208Sql,
    "q209_doc_dispatch" -> q209Sql,
    "q210_tiff_quality" -> q210Sql,
    "q211_vp8_foreign" -> q211Sql,
    "q212_container_audio" -> q212Sql,
    "q213_avif_meta" -> q213Sql,
    "q214_7z_members" -> q214Sql,
    "q215_tarxz_ingest" -> q215Sql
  )

  /** The full oracle map, INCLUDING oracles generated from fitted
    * model parameters (q76's codebook-literal SQL — available once the
    * query has run in this JVM, which Verify's run-then-dump order
    * guarantees). The driver's correctness gate reads this.
    */
  def oraclesWithFitted: Map[String, String] =
    oracles ++ q76SqlNow.map("q76_pq_ann" -> _) ++
      q120SqlNow.map("q120_semdedup_ivf" -> _) ++
      q130SqlNow.map("q130_ann_staleness" -> _) ++
      q179SqlNow.map("q179_quality_lr" -> _) ++
      q191SqlNow.map("q191_cluster_sample" -> _)
}
