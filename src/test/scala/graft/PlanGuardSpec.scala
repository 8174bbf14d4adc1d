package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.tools.PlanShapeProbe

/** Plan-shape regression guard (r13, per the r12 verdict): the X6 census
  * is prose — this spec pins the MEASURED physical-plan shape of the [B]
  * headline batch gates so a Spark upgrade, AQE change, or refactor that
  * silently degrades a plan (a new shuffle, an unplanned
  * BroadcastNestedLoopJoin, a cartesian product, a global sort) fails CI
  * instead of only showing up as a bench regression.
  *
  * Bounds are measured values, checked at sf0.001 on SparkSpec's session
  * (`GraftSession.local(4)`: 4 shuffle partitions, cached-plan output
  * re-coalescing on). The gates run in list order on one session, so a
  * gate whose cached frames an earlier gate already materialized counts
  * fewer exchanges here than alone (`p_prefix_jaccard`: 6 here, 8
  * standalone). `graft.tools.Probe shape` prints the counts this spec
  * sees only when given the whole pinned list in this order; one gate
  * alone prints its cold, standalone count. Exchanges/BNLJ are UPPER
  * bounds (an optimizer
  * improvement may remove one; a degradation that adds one fails),
  * cartesian products and global sorts are flatly banned. BNLJ
  * allowances are the audited bounded-broadcast sites only (X6): the
  * 1-row corpus-stat crosses in t_tfidf/t_bm25_topk and the intentional
  * bounded query-side broadcasts in s_cosine_topk/s_mips_topk.
  */
class PlanGuardSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSpec.session
  private val dir = "/root/testdata/sf0.001"

  /** gate -> (max exchanges, max BroadcastNestedLoopJoins) */
  private val pinned: Seq[(String, Int, Int)] = Seq(
    ("q01_pricing_summary", 1, 0),
    ("q03_shipping_priority", 1, 0),
    ("q06_forecast_revenue", 1, 0), // the single global-agg exchange (r14: SinglePartition now counted)
    ("t_tfidf", 6, 4), // r14: 4 hash + 2 audited 1-row stat aggs (SinglePartition); 4 BNLJ = the corpus-stat broadcasts
    ("t_bm25_topk", 4, 1), // r14: 3 hash + the 1-row corpus-stats agg; 1 BNLJ = its crossJoin
    ("s_mips_topk", 1, 1), // 1 = the bounded query-side broadcast
    ("s_cosine_topk", 1, 1), // 1 = the bounded query-side broadcast
    ("t_cms_counts", 2, 0),
    ("q_range_join", 0, 0), // the BETWEEN rides an equi-join, NOT a BNLJ
    ("p_minhash_lsh", 7, 0), // band join is an equi-join, no all-pairs
    ("p_exact_dedup", 1, 0),
    ("p_dup_spans_fast", 7, 0),
    ("p_dedup_survivors_fast", 1, 0),
    ("t_contig_windows", 3, 0), // rangePrefix: no global sort
    ("q_skew_salted_join", 1, 0),
    ("t_balanced_shards", 3, 0),
    ("s_centroid_outliers", 2, 0), // corpus never shuffles its vectors
    ("t_quality_classifier", 1, 0), // weight table broadcasts
    ("t_dsir_select", 3, 0), // both histograms broadcast
    ("m_image_stats", 0, 0), // partition-wise decode, shuffle-free
    ("m_media_meta", 0, 0), // encode+decode both mapPartitions
    ("m_frame_sample", 0, 0), // explode-by-frame stays narrow
    ("m_media_report", 1, 0), // one partial-agg'd format exchange
    // r13 storage/format/dedup additions (invoking these runs their
    // side-effect writes / streaming registry at sf0.001 — cheap)
    ("t_format_roundtrip", 3, 0), // one partial-agg exchange per format
    ("t_codec_roundtrip", 4, 0), // one per codec
    ("t_partitioned_layout", 1, 0), // pruned scan + one agg exchange
    ("t_schema_evolution", 0, 0), // merged scan is projection-only
    ("t_approx_distinct", 2, 0), // exact + HLL share the lang exchange
    ("p_stream_lsh_dedup", 1, 0), // registry join-back stays equi-join
    ("t_heavy_hitters", 4, 0), // exact-audit aggs; sketch is RDD-side
    ("p_ingest_e2e", 1, 0), // dedup agg; keep side AQE-broadcasts back
    ("s_sign_hamming", 1, 1), // 1 = the bounded query-side broadcast
    ("q_scan_pruning", 1, 0), // pushdown/pruning gated in-gate too
    // late-r13 temporal/media additions
    ("q_scd2_history", 1, 0), // one key exchange feeds all window passes
    ("q_interval_coverage", 1, 0), // key exchange; island rollups reuse it
    ("t_approx_quantiles", 3, 0), // the audited rangePrefix machinery
    ("m_audio_stats", 0, 0), // encode+decode both mapPartitions
    ("m_video_meta", 0, 0), // r14: mp4 encode + box walk, both mapPartitions
    ("q_cdc_snapshot", 1, 0), // map-side-combined argmax, no window
    ("t_data_quality", 6, 0), // r14: 3 hash + the three 1-row report aggs (SinglePartition)
    ("t_confusables", 2, 0), // two fingerprint exchanges, bcast join-backs
    ("q_temporal_join", 2, 0), // history + as-of union-window; NO range join
    ("t_confusables_fuzz", 0, 0), // pure projection over the fixture
    // r14: triangles re-pinned 4→7 / 6→8 — the degree-ordered orientation
    // (GraphStats.orientedEdges) pays one node-sized degree agg and two
    // edge-sized degree join-backs to cap wedge volume at O(m^1.5) on
    // power-law graphs; every added exchange is edge/node-sized, audited
    ("u_triangles", 7, 0), // canon + degree orient + wedge/closure equi-joins
    ("u_clustering", 8, 0), // + the shared degree agg's node join
    // r15: census COMPLETED — every remaining SURVEY [B]-row gate pinned
    // at its measured shape (0 cartesians, 0 global sorts anywhere; BNLJ
    // allowances are the X6-audited bounded broadcasts: the 1-row
    // corpus/epoch-stat crosses in s_ann_recall/s_hybrid_rrf/
    // t_corpus_drift/t_keywords and the bounded query-side broadcasts in
    // s_hard_negatives/s_pq_topk/s_semantic_decontaminate). The iterative
    // graph gates live in IterativeShuffleGuardSpec, the streaming gates
    // in StreamingStateGuardSpec — between the three specs every [B] row
    // is mechanically guarded.
    ("h_async_lookup", 0, 0),
    ("h_cached_lookup", 0, 0),
    ("p_bloom_antijoin", 0, 0),
    ("p_cluster_sizes", 2, 0),
    ("p_containment", 6, 0),
    ("p_cross_dedup", 0, 0),
    ("p_cross_neardup", 11, 0),
    ("p_curation_e2e", 10, 0),
    ("p_dedup_keep_best", 1, 0),
    ("p_dedup_survivors", 0, 0),
    ("p_dup_spans", 3, 0),
    ("p_prefix_jaccard", 6, 0),
    ("p_segment_dedup", 2, 0),
    ("p_segment_dedup_skewsafe", 2, 0),
    ("p_sentence_boilerplate", 3, 0),
    ("p_snapshot_diff", 2, 0),
    ("p_source_boilerplate", 3, 0),
    ("p_span_removed", 3, 0),
    ("q_range_join_sql", 0, 0),
    ("s_ann_recall", 7, 2),
    ("s_cluster_sample", 1, 0),
    ("s_hard_negatives", 1, 1),
    ("s_hybrid_rrf", 6, 2),
    ("s_ivf_int_centroids", 0, 0),
    ("s_ivf_int_topk", 2, 0),
    ("s_ivf_topk", 2, 0),
    ("s_jl_project", 0, 0),
    ("s_lsh_bucket", 0, 0),
    ("s_mean_pool", 1, 0),
    ("s_pq_codebooks", 0, 0),
    ("s_pq_topk", 1, 1),
    ("s_semantic_decontaminate", 1, 1),
    ("s_semantic_dedup", 0, 0),
    ("t_bigram_fluency", 5, 0),
    ("t_ccnet_buckets", 6, 0),
    ("t_chunk_docs", 0, 0),
    ("t_code_detect", 0, 0),
    ("t_corpus_drift", 6, 2),
    ("t_corpus_report", 2, 0),
    ("t_decontaminate", 2, 0),
    ("t_decontaminate8", 2, 0),
    ("t_global_shuffle", 3, 0),
    ("t_gopher_repetition", 0, 0),
    ("t_hash_split", 0, 0),
    ("t_jsonl_ingest", 0, 0),
    ("t_keywords", 6, 4),
    ("t_lang_fertility", 1, 0),
    ("t_length_histogram", 1, 0),
    ("t_mixture_plan", 1, 0),
    ("t_mojibake", 0, 0),
    ("t_mojibake_fuzz", 0, 0),
    ("t_nfc_norm", 0, 0),
    ("t_oov_report", 3, 0), // 2 standalone; +1 when suite cache state differs
    ("t_pmi_bigrams", 3, 0),
    ("t_quota_sample", 1, 0),
    ("t_rank_normalize", 2, 0),
    ("t_repetition", 0, 0),
    ("t_scripts", 0, 0),
    ("t_scripts_fuzz", 0, 0),
    ("t_sentences", 0, 0),
    ("t_sentences_fuzz", 0, 0),
    ("t_seq_pack", 1, 0),
    ("t_shard_manifest", 4, 0),
    ("t_strip_html", 0, 0),
    ("t_strip_html_fuzz", 0, 0),
    ("t_systematic_sample", 3, 0),
    ("t_temperature_mix", 2, 0),
    ("t_token_budget", 3, 0),
    ("t_vocab_topk", 2, 0), // 1 standalone; +1 when suite cache state differs
    ("t_winsorize", 1, 0),
    ("t_word_diversity", 0, 0),
    ("u_fetch_slots", 1, 0),
    ("u_outlinks", 2, 0),
    ("u_robots_filter", 0, 0),
    ("u_warc_ingest", 0, 0), // r15: encode+parse both mapPartitions
    // r16: 2 path-spread repartitions (3-row relations) + the
    // partial-agg'd group exchange + the countDistinct second phase —
    // record walks themselves are mapPartitions, shuffle-free
    ("u_warc_file_ingest", 4, 0),
    ("u_robots_parse", 2, 0), // one doc-key window exchange + the (doc, group) join
    ("u_sitemap_parse", 0, 0), // pure regexp/posexplode projection
    // r16: robots sitemap-seam + typed-politeness additions. The
    // frontier chain's sitemap-url equi-join AQE-broadcasts at gate
    // scale; its 2 exchanges are the parseRobots window + group join.
    // u_robots_decisions gained the crawlDelayMs reduction (rule-set
    // sized: the delay agg + the specific-domain distinct), broadcast
    // back onto the decisions
    ("u_crawl_frontier_e2e", 2, 0),
    ("u_robots_decisions", 4, 0),
    // text never shuffles: per-doc metrics fold map-side, the dedup
    // exchange carries (fp, metrics) tuples, then the lang regroup +
    // the countDistinct second phase
    ("p_crawl_e2e", 3, 0),
    ("m_webm_meta", 0, 0),
    // truth and band candidates meet in one per-pair tag aggregate: no
    // broadcast cross of 1-row aggregates, no second verify join
    ("p_lsh_recall", 10, 0))

  test("headline [B] gates keep their audited plan shapes") {
    assume(
      new java.io.File(dir).isDirectory,
      s"needs the driver-generated testdata at $dir")
    val failures = Seq.newBuilder[String]
    pinned.foreach { case (name, maxExchanges, maxBnlj) =>
      // r16: tree-based counting (see PlanShapeProbe.shapeOf) — cached
      // subtrees materialized by in-gate audits print final+initial AQE
      // plans, double-counting exchanges in the text form
      val s = PlanShapeProbe.shapeOf(
        SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
      if (s("exchange") > maxExchanges)
        failures += s"$name: ${s("exchange")} exchanges (pinned <= $maxExchanges)"
      if (s("bnlj") > maxBnlj)
        failures += s"$name: ${s("bnlj")} BroadcastNestedLoopJoins " +
          s"(pinned <= $maxBnlj — only audited bounded broadcasts allowed)"
      if (s("cartesian") > 0)
        failures += s"$name: ${s("cartesian")} CartesianProduct(s) — banned"
      if (s("sort_global") > 0)
        failures += s"$name: ${s("sort_global")} global Sort(s) — banned " +
          "in the pinned set (TakeOrdered / per-bucket windows instead)"
    }
    withClue("plan-shape regressions (re-audit X6 before re-pinning): ") {
      failures.result() shouldBe empty
    }
  }
}
