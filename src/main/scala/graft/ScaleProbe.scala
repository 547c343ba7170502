package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale-up probe: materializes a key-shifted ×10 copy of the sf0.1
  * fixtures (≈6M lineitem rows, 1M events, 50k docs with 10 exact
  * duplicates each) under /tmp and re-runs the heavy queries, so "would
  * this plan survive a scale-up" is measured, not asserted. Results are
  * recorded in SCALING.md.
  *
  * Key shifting keeps referential integrity: copy i shifts o_orderkey /
  * l_orderkey by i·KeyStride (join keys still match), custkeys/partkeys
  * untouched (dims unchanged, join fan-in grows ×10 — deliberately the
  * harder case). events get new event_ids per copy but keep user_ids;
  * documents get new doc_ids so the near-dup path faces real duplicates.
  *
  * Usage: runMain graft.ScaleProbe [outDir] [query ...] — outDir (default
  * /tmp/graft-sfbig) receives the ×10 fixture, generated once per source
  * content; one timed row is printed per query (a default set if none).
  */
object ScaleProbe {
  private val KeyStride = 100000000L

  def main(args: Array[String]): Unit = {
    val srcDir = "/root/testdata/sf0.1"
    val copies = 10
    val outDir = args.headOption.getOrElse("/tmp/graft-sfbig")
    // the first arg is the ×10 OUTPUT dir, not a source dir — passing a
    // fixture path here once clobbered a source table (overwrite-mode
    // delete fires before any write); refuse the whole tree
    require(!outDir.startsWith("/root/testdata"),
      s"ScaleProbe writes ×$copies fixtures into its first arg ($outDir) — " +
        "never point it at the read-only testdata tree")
    val spark = Mains.localSession("32", "WARN",
      "spark.sql.files.maxPartitionBytes" -> "32m")

    def replicate(df: DataFrame, shift: Map[String, Long]): DataFrame =
      (0 until copies).map { i =>
        shift.foldLeft(df) { case (d, (c, stride)) =>
          d.withColumn(c, col(c) + lit(i * stride))
        }
      }.reduce(_.union(_))

    // completion marker written only after ALL tables land — a run killed
    // mid-generation regenerates from scratch instead of probing stale
    // data; the marker carries a content key over EVERY source table (the
    // probe copies all ten), so regenerating any of them invalidates the
    // ×10 copy
    val srcKey = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => graft.ops.SourceSinkOps.fixtureKey(srcDir, s"$t.parquet"))
      .mkString("-")
    val doneMarker = new java.io.File(s"$outDir/_GRAFT_ALL_TABLES")
    val fresh = doneMarker.exists() &&
      java.nio.file.Files.readString(doneMarker.toPath) == srcKey
    if (!fresh) {
      println(s"[scale] generating ×$copies fixtures under $outDir")
      val t0 = System.nanoTime()
      replicate(ops.table(spark, srcDir, "lineitem"), Map("l_orderkey" -> KeyStride))
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      replicate(ops.table(spark, srcDir, "orders"), Map("o_orderkey" -> KeyStride))
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
      // events: keep the raw-ns-long ts representation the loader expects
      replicate(
        ops.table(spark, srcDir, "events")
          .withColumn("ts", unix_micros(col("ts")) * 1000),
        Map("event_id" -> KeyStride))
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      replicate(ops.table(spark, srcDir, "documents"), Map("doc_id" -> KeyStride))
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      replicate(ops.table(spark, srcDir, "embeddings"), Map("vec_id" -> KeyStride))
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      for (t <- Seq("region", "nation", "customer", "supplier", "part"))
        ops.table(spark, srcDir, t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      java.nio.file.Files.writeString(doneMarker.toPath, srcKey)
      println(f"[scale] generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    val probes = if (args.length > 1) args.drop(1).toSeq else Seq(
      "q_agg_basic", "q_join_multiway", "q_join_asof", "q_join_asof_fwd",
      "q_join_interval", "q_topk_group", "q_win_running", "q_sub_scalar",
      "q_scan_parquet", "q_sink_batchify", "q_stream_session", "q_stream_late",
      "q_stream_delivery_report", "q_llm_exact_dedup", "q_llm_minhash",
      "q_llm_minhash_sketch",
      "q_llm_ngram_jaccard", "q_text_langid", "q_udtf_shingles",
      "q_llm_sim_knn", "q_llm_sim_knn_lsh", "q_llm_sim_knn_ivf",
      "q_llm_embed_neardup", "q_llm_dup_clusters", "q_llm_simhash_neardup",
      "q_text_tfidf", "q_llm_ngram_lm", "q_text_repetition",
      "q_text_normalize", "q_llm_doc_lm_score", "q_agg_unpivot", "q_fn_regex",
      "q_agg_hist", "q_llm_emb_centroid", "q_llm_emb_classify",
      "q_llm_minhash_est",
      "q_llm_dedup_keep_best", "q_llm_corpus_curate",
      "q_mm_embed_knn", "q_mm_neardup", "q_llm_sim_knn_ivf2",
      "q_llm_contamination", "q_funnel_steps", "q_retention_cohort",
      "q_llm_split_assign", "q_llm_domain_mix", "q_llm_pack_chunks",
      "q_text_boilerplate", "q_llm_emb_quantize", "q_profile_table",
      "q_agg_heavy_hitters", "q_agg_zscore_outlier", "q_win_winsorize",
      "q_ts_gapfill", "q_agg_mode", "q_llm_sample_k",
      "q_agg_percentile", "q_stream_join", "q_agg_skew",
      "q_text_scrub", "q_llm_chunk_overlap", "q_llm_stratified_sample",
      "q_llm_dataset_diff", "q_llm_dup_rate_by_source", "q_llm_token_budget",
      "q_llm_split_leakage",
      // r8 late: span-level dedup (block-hash df rejoin), the attribution
      // merge-scan (asofMerge shape over the event timeline), the
      // semdedup verdict (capped sign-LSH cell self-join), and the
      // per-source PII audit (scan-side regexp_count)
      "q_llm_block_dedup", "q_analytics_attribution",
      "q_llm_emb_semdedup", "q_text_pii_audit",
      // r9: the remaining round-8 operators — BPE pair counting (vocab-
      // bounded pair stage), prefix dedup (bounded prefix-key groups),
      // n-gram novelty (bigram df rejoin), cross-source overlap
      // (window-pass source pairing)
      "q_llm_bpe_pairs", "q_llm_prefix_dedup", "q_llm_ngram_novelty",
      "q_llm_cross_source_overlap",
      // r9 late: the multi-probe semdedup verdict + the BPE trainer/encoder
      "q_llm_emb_semdedup_mp", "q_llm_bpe_train", "q_llm_bpe_encode",
      // r9 late: winnow (fingerprint df rejoin), CDC chunking (pure
      // counting aggs), and the purchase-graph pair — at ×10 the graph
      // DENSIFIES (same custkeys, 10× orders), so edge count, not row
      // count, is the scaling axis to read
      "q_text_winnow", "q_llm_cdc_chunks",
      "q_graph_pagerank", "q_graph_degree",
      // r9 late: strong-component labeling + mutual-KNN triangles — at ×10
      // the co-purchase graph DENSIFIES (same part catalog, 10× orders):
      // strong-edge count and kept-KNN arcs, not row count, are the axes;
      // the basket/KNN caps are what hold wedge work at n·K². Plus the
      // weighted sampler (pure top-k scan) and quantized-DSIR weights
      // (bigram digest shuffle + vocab-bounded count rejoin)
      "q_graph_concomp", "q_graph_triangles", "q_graph_simnodes",
      "q_llm_weighted_sample", "q_llm_importance_weights",
      // r9 late: integer-entropy scoring (digest-keyed tf agg), the
      // CCNet tertile buckets (valueAtRanks cuts over the bigram scorer),
      // and the per-lang tokenizer fertility audit (broadcast vocab join)
      "q_text_entropy", "q_llm_quality_buckets", "q_llm_tok_fertility",
      "q_llm_curriculum", "q_llm_shard_pack",
      // r9 continuation: OHLC bars (pure map-side agg — shuffle carries
      // #bars rows), k-core peel (arc-bounded rounds over the mutual-KNN
      // index; at ×10 the graph densifies so the peel faces 10× arcs),
      // the Pareto frontier (bounded distinct-ppm staircase + broadcast
      // rejoin), and edit-distance verification (EditPfx-capped DP over
      // the capped candidate pairs)
      "q_ts_ohlc", "q_graph_kcore", "q_llm_pareto_prune",
      "q_llm_editdist_neardup",
      // r9 continuation: EWMA (time-span-bounded grid fan-out — same axis
      // as acf/gapfill), Count-Min (per-key hash agg + broadcast 2048-cell
      // rejoin), basket rules (order-key self-join, basket-width-bounded),
      // BM25 (scan-side 4-term filter + doc-keyed aggs)
      "q_ts_ewma", "q_agg_countmin", "q_analytics_basket", "q_text_bm25",
      // r9 continuation: RRF fusion — both lists are bounded top-100 cuts,
      // so only the list builders (bm25 aggs + the memoized ppm scorer)
      // scale with the corpus
      "q_text_rank_fusion",
      // r9 continuation: clustering coefficient — the triangles wedge
      // shape plus a degree rejoin, warm on the shared mutual-KNN index
      "q_graph_clustercoef",
      // r9 continuation: RAKE — per-doc segmentation windows + token/
      // phrase aggs (declared 5b exemptions); integrity — four anti-joins
      "q_text_rake", "q_profile_integrity",
      // r9 continuation: seasonal/changepoint ride the grid axis like
      // ewma/acf; pattern is two windows on one per-user sort; abtest is
      // one hash agg; ann_recall fans ONE corpus scan ×20 bounded probes;
      // xml re-reads the exported row files
      "q_ts_seasonal", "q_ts_changepoint", "q_analytics_pattern",
      "q_analytics_abtest", "q_llm_ann_recall", "q_src_xml_roundtrip",
      // r9 continuation: assortativity (degree rejoin + one agg, warm on
      // the shared mutual-KNN index) and the drift audit (one hash agg +
      // bounded ordered fold)
      "q_graph_assortativity", "q_profile_drift",
      // r9 continuation: the dataset card (one scan + digest agg) and the
      // diversity profile (two chained hash aggs)
      "q_llm_dataset_card", "q_agg_diversity",
      // r9 continuation: OLS trend (grid axis) and the in-stream nearest
      // as-of (two windows on one per-user sort)
      "q_ts_trend", "q_join_asof_nearest",
      // r10: n=13 decontamination (its own memoized kept-shingle
      // substrate), NFC audit (one scan, isNormalized fast path), RA link
      // prediction + brand modularity (warm on the shared graph indexes),
      // RFM (stacked two-level ranks), source MI (digest agg + marginals)
      "q_llm_contamination13", "q_text_unicode_norm",
      "q_graph_linkpred", "q_graph_modularity",
      "q_analytics_rfm", "q_text_source_mi",
      // r10: SQL-text entry (plans like the DSL), dim stats (explode +
      // one agg), packing report (literal fan-out), corr matrix (ONE
      // 25-column moment agg), MAD census + revenue concentration
      // (bucketed order statistics), lag-24 backtest (grid axis),
      // bucketed co-located join (cold row = the one-time write),
      // markov transitions (per-user lead window, enum-bounded rejoin)
      "q_sql_shipping_priority", "q_sql_revenue_by_nation",
      "q_llm_emb_dim_stats", "q_llm_packing_efficiency", "q_profile_corr",
      "q_ts_anomaly_mad", "q_analytics_revenue_conc", "q_ts_forecast_naive",
      "q_sink_bucketed", "q_analytics_markov",
      // r10 close + r11: SQL subquery analogs (decorrelated agg joins /
      // anti join from SQL text), NFKC audit (one scan), abtest verdict
      // (same one-agg shape, now with the rational t-critical), cohort
      // LTV (user/week aggs + tiny-relation window), cross-correlation
      // (grid axis like acf), gopher rules (token-index agg + per-doc
      // bigram partials)
      "q_sql_order_priority", "q_sql_top_order_per_cust",
      "q_sql_small_qty_revenue", "q_sql_top_balance_inactive",
      "q_text_nfkc", "q_analytics_ltv", "q_ts_crosscorr",
      "q_llm_gopher_quality",
      // r11b: source-pair JSD (digest self-join over the count relation),
      // z-order layout study (scan-side bit math + two-level agg), the
      // salted skew join (×8 dim explode), and the α=0.5 mix allocator
      // (per-source aggs + bounded windows)
      "q_text_source_jsd", "q_layout_zorder",
      "q_join_skew_salted", "q_llm_mix_alpha",
      // r11b: the capped-LSH recall report (warm on the shared candidate
      // index; a cold subset run pays the toks→sigs→pairs build, ~12 s
      // at x10 — the documented amortization), and the LTTB downsample
      // (one scan + time-bounded neighbor joins + max_by argmax)
      "q_llm_minhash_recall", "q_ts_downsample", "q_mm_audio_chunks",
      "q_analytics_stage_latency",
      // r11b close: the langid confusion report (cold subset pays the
      // shared token-index build, same amortization note)
      "q_text_langid_eval",
      // r12: span-granular dedup (sliding-window digest df rejoin + the
      // per-doc islands merge window) and the abtest p-value rides the
      // existing q_analytics_abtest row (same one-agg shape + scalar chain)
      "q_llm_span_dedup",
      // r12 batch 2: real container decode (scan-side parse), Bollinger
      // (grid axis), FD sweep (two digest explodes), Bloom prefilter
      // (2^16 broadcast + key-count shapes), method agreement (three
      // count-shaped flag pipelines over the memoized sig indexes), the
      // Q19/Q15 SQL analogs, and the bag set ops (one hash agg each)
      "q_mm_container_meta", "q_ts_bollinger", "q_profile_fd",
      "q_join_bloom_prefilter", "q_llm_dedup_agreement",
      "q_sql_disjunctive_revenue", "q_sql_top_supplier",
      "q_set_intersect_all", "q_set_except_all",
      "q_llm_span_dedup_by_source", "q_profile_benford",
      // r14: the deterministic sample percentile (bounded bottom-k
      // aggregator), the Granger screen (span-bounded pair fan over the
      // grid), the categorical dependency panel (one agg per pair
      // stack), the Q18 analog (semi join + two-level agg), and the AVI
      // motion scan (scan-side SAD kernel)
      "q_agg_approx_percentile", "q_ts_granger", "q_profile_cramers_v",
      "q_profile_cat_mi", "q_sql_big_orders", "q_mm_video_motion",
      "q_ts_coint", "q_graph_conductance", "q_text_lexicon_score")
    // warmup
    SparkEntry.queries("q_agg_basic")(spark, outDir).count()
    val results = probes.map { name =>
      val t0 = System.nanoTime()
      val n = try SparkEntry.queries(name)(spark, outDir).count()
        catch { case e: Throwable =>
          println(s"[scale] $name FAILED: ${e.getMessage}"); -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $name%-28s ${dt}%7.2f s  rows=$n")
      (name, dt, n)
    }
    println(f"[scale] TOTAL ${results.map(_._2).sum}%.1f s over ${results.size} probes")
    spark.stop()
  }
}
