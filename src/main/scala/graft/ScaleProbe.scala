package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  */
object ScaleProbe {
  private val KeyStride = 100000000L

  def main(args: Array[String]): Unit = {
    val srcDir = "/root/testdata/sf0.1"
    // `runMain graft.ScaleProbe degen` = adversarial-corpus probe only
    // (no ×10 generation) — the full run includes it at the end.
    val degenOnly = args.headOption.contains("degen")
    // `runMain graft.ScaleProbe lshjoin` = naive-vs-rewritten similarity
    // join timing only (uses the existing ×10 fixture if present)
    val lshOnly = args.headOption.contains("lshjoin")
    // `runMain graft.ScaleProbe aqe` = run EVERY declared query at sf0.1
    // with AQE explicitly ON and fail loudly on any error
    val aqeOnly = args.headOption.contains("aqe")
    // `runMain graft.ScaleProbe bigamortize [copies]` (r13, verdict item
    // 7): generate a ×N fixture (default 30) and measure the three
    // cost-concentrating index builds (token index, graph adjacency,
    // MinHash candidate index) with an explicit build-vs-read split —
    // confirms the ×10 amortization story holds past the probe point.
    val bigAmortize = args.headOption.contains("bigamortize")
    val outDir0 = args.headOption
      .filterNot(a => a == "degen" || a == "lshjoin" || a == "aqe"
        || a == "bigamortize")
      .getOrElse("/tmp/graft-sfbig")
    val copies =
      if (bigAmortize) args.drop(1).headOption.map(_.toInt).getOrElse(30)
      else 10
    val outDir = if (bigAmortize) s"/tmp/graft-sfx$copies" else outDir0
    // the first arg is the ×N OUTPUT dir, not a source dir — passing a
    // fixture path here once clobbered a source table (overwrite-mode
    // delete fires before any write); refuse the whole tree
    require(!outDir.startsWith("/root/testdata"),
      s"ScaleProbe writes ×$copies fixtures into its first arg ($outDir) — " +
        "never point it at the read-only testdata tree")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (degenOnly) {
      degenerateProbe(spark, srcDir)
      spark.stop()
      return
    }
    if (lshOnly) {
      lshJoinProbe(spark, srcDir)
      spark.stop()
      return
    }
    if (aqeOnly) {
      aqeProbe(spark, srcDir)
      spark.stop()
      return
    }

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

    if (bigAmortize) {
      bigAmortizeProbe(spark, outDir, copies)
      spark.stop()
      return
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
    // subset runs (explicit query names after the dir) are for one-off
    // new-operator rows — skip the fixed auxiliary probes there
    if (args.length <= 1) {
      bucketHistograms(spark, srcDir, outDir)
      skewProbe(spark, outDir)
      amortizationProbe(spark, outDir)
      streamingProbe(spark, outDir)
      degenerateProbe(spark, srcDir)
    }
    spark.stop()
  }

  /** Adversarial-corpus probe: the uniform ×10 and hot-key skew probes
    * leave one failure mode unmeasured — a DEGENERATE corpus where mass
    * duplication concentrates the near-dup/cluster machinery onto single
    * keys. Built from sf0.1: half of all documents get ONE identical text
    * (⇒ a 2500-doc exact-dup mega-cluster, one dominant 16-bit simhash
    * fingerprint, one dominant MinHash band bucket, one dominant shingle
    * set) and half of all embeddings get ONE identical vector (⇒ one
    * dominant sign-LSH bucket). Round 8 adds a third axis to the same
    * fixture: 90 % of documents collapse onto ONE source value, so the
    * per-source operators (dup_rate_by_source, stratified_sample,
    * token_budget) face a dominant group — the low-cardinality-window /
    * hot-aggregation-key trap measured instead of assumed. Every family
    * query must stay in the same decade as its uniform sf0.1 time — the
    * caps (mega-bucket cap 50, stop-shingle df cap, exact-dup contraction,
    * hash-agg cluster sizes, WindowGroupLimit pre-truncation) are what
    * bound it, and this probe is where that claim is MEASURED.
    */
  /** AQE-on smoke (r10): PlanAudit gates STATIC plans with AQE off —
    * correct for the 100× shape argument — but the driver's session runs
    * Spark's default (AQE on since 3.2), so an AQE-only planning quirk
    * (runtime join-strategy switch, coalesced partitions, skew-join
    * splits) could in principle break a query no static gate sees. This
    * probe runs EVERY declared query at sf0.1 with
    * `spark.sql.adaptive.enabled=true` pinned explicitly and throws on
    * any failure, making "green under AQE" a measured fact instead of an
    * assumption. */
  private def aqeProbe(spark: SparkSession, srcDir: String): Unit = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    println(s"[aqe] session default spark.sql.adaptive.enabled=$prev")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val t0 = System.nanoTime()
      var failed = List.empty[String]
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try { fn(spark, srcDir).count(); () }
        catch { case e: Throwable =>
          failed ::= name
          println(s"[aqe] $name FAILED: ${e.getMessage}")
        }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (failed.nonEmpty)
        throw new IllegalStateException(
          s"${failed.size} queries failed with AQE on: " +
            failed.sorted.mkString(", "))
      println(f"[aqe] all ${SparkEntry.queries.size} declared queries green " +
        f"with AQE on ($dt%.1f s at sf0.1)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Naive-vs-rewritten similarity join (plans.LshJoinRewrite): time the
    * brute-force `cosine_sim >= tau` self-join against the rewritten
    * bucket equi-join on sf0.1 and (when the ×10 fixture exists) at ×10 —
    * the measured gap is the rule's SCALING.md row. Counts only; the
    * naive side at ×10 is O((10·n)²) cosines, which is the point. */
  private def lshJoinProbe(spark: SparkSession, srcDir: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    Pipelines.installLshJoinRewrite(spark)
    def run(dir: String, label: String): Unit = {
      if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
        println(s"[scale] lshjoin $label: no fixture at $dir, skipped")
        return
      }
      val e = ops.AnnOps.embDouble(spark, dir)
      def joined = {
        val a = e.select(col("vec_id").as("id_a"), col("emb").as("emb_a"))
        val b = e.select(col("vec_id").as("id_b"), col("emb").as("emb_b"))
        a.join(b, call_function("cosine_sim", col("emb_a"), col("emb_b"))
          >= lit(0.4) && col("id_a") < col("id_b"))
      }
      // (rewrite, multiProbe): naive → single-probe → multi-probe
      for ((enabled, mp) <- Seq((false, false), (true, false), (true, true))) {
        spark.conf.set(graft.plans.LshJoinRewrite.EnabledKey, enabled.toString)
        spark.conf.set(graft.plans.LshJoinRewrite.MultiProbeKey, mp.toString)
        val t0 = System.nanoTime()
        val n = joined.count()
        println(f"[scale] lshjoin $label%-6s rewrite=$enabled%-5s mp=$mp%-5s " +
          f"${(System.nanoTime() - t0) / 1e9}%8.2f s  pairs=$n")
      }
      spark.conf.set(graft.plans.LshJoinRewrite.EnabledKey, "false")
      spark.conf.set(graft.plans.LshJoinRewrite.MultiProbeKey, "false")
    }
    // r13: the Jaccard-threshold rewrite, same naive-vs-rewritten shape
    // over per-doc token-digest sets (the JaccardJoinRewriteSpec build).
    // `naive = false` at ×10: the brute force there is 1.25e11 set-Jaccard
    // evaluations (~50 min measured extrapolation) — being infeasible is
    // the rewrite's whole argument, so only the rewritten side runs and
    // the sf0.1 naive row is the comparison anchor.
    Pipelines.installJaccardJoinRewrite(spark)
    def runJaccard(dir: String, label: String, naive: Boolean): Unit = {
      if (!new java.io.File(s"$dir/documents.parquet").exists()) {
        println(s"[scale] jacjoin $label: no fixture at $dir, skipped")
        return
      }
      val t = ops.table(spark, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
        .where(length(col("tok")) > 0)
        .select(col("doc_id"), call_function("shingle_key", col("tok")).as("key"))
        .groupBy("doc_id")
        .agg(array_sort(collect_set(col("key"))).as("toks"))
        .localCheckpoint(true)
      def joined = {
        val a = t.select(col("doc_id").as("id_a"), col("toks").as("toks_a"))
        val b = t.select(col("doc_id").as("id_b"), col("toks").as("toks_b"))
        a.join(b, call_function("jaccard_sim", col("toks_a"), col("toks_b"))
          >= lit(0.3) && col("id_a") < col("id_b"))
      }
      // (rewrite, bands): naive → single-bucket → 8-band (r14)
      val modes = (if (naive) Seq((false, false)) else Nil) ++
        Seq((true, false), (true, true))
      for ((enabled, bands) <- modes) {
        spark.conf.set(graft.plans.JaccardJoinRewrite.EnabledKey, enabled.toString)
        spark.conf.set(graft.plans.JaccardJoinRewrite.BandsKey, bands.toString)
        val t0 = System.nanoTime()
        val n = joined.count()
        println(f"[scale] jacjoin $label%-6s rewrite=$enabled%-5s bands=$bands%-5s " +
          f"${(System.nanoTime() - t0) / 1e9}%8.2f s  pairs=$n")
      }
      spark.conf.set(graft.plans.JaccardJoinRewrite.EnabledKey, "false")
      spark.conf.set(graft.plans.JaccardJoinRewrite.BandsKey, "false")
    }
    run(srcDir, "sf0.1")
    run("/tmp/graft-sfbig", "x10")
    runJaccard(srcDir, "sf0.1", naive = true)
    // no ×10 jacjoin row AT ALL: on this 15%-templated corpus the
    // RESULT SET itself grows quadratically in the dup-cluster sizes
    // (7.5M surviving pairs at sf0.1 → ~7.5e8 at ×10) — any exact
    // Jaccard-threshold join pays its own output; measuring it would
    // time the answer's size, not the plan. The scale path for dup-dense
    // corpora is the declared CAPPED operators (q_llm_minhash family) —
    // the rewrite is a pure uncapped prune by contract.
    println("[scale] jacjoin x10    skipped: output-bound " +
      "(~7.5e8 surviving pairs — see the declared capped operators)")
  }

  private def degenerateProbe(spark: SparkSession, srcDir: String): Unit = {
    val degDir = "/tmp/graft-sfdeg"
    // v2: fixture format token — r8 added source dominance, a digest-only
    // key would silently reuse the r7 fixture
    val srcKey = "v2-" + Seq("documents", "embeddings")
      .map(t => graft.ops.SourceSinkOps.fixtureKey(srcDir, s"$t.parquet"))
      .mkString("-")
    val marker = new java.io.File(s"$degDir/_GRAFT_DEG_DONE")
    val fresh = marker.exists() &&
      java.nio.file.Files.readString(marker.toPath) == srcKey
    if (!fresh) {
      val docs = ops.table(spark, srcDir, "documents")
      val hotText = docs.orderBy("doc_id").limit(1)
        .select(col("text").as("hot_text"))
      docs.crossJoin(broadcast(hotText))
        .withColumn("text",
          when(col("doc_id") % 2 === 0, col("hot_text")).otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("source",
          when(col("doc_id") % 10 =!= 1, lit("hot-source"))
            .otherwise(col("source")))
        .drop("hot_text")
        .write.mode("overwrite").parquet(s"$degDir/documents.parquet")
      val emb = ops.table(spark, srcDir, "embeddings")
      val hotVec = emb.orderBy("vec_id").limit(1)
        .select(col("embedding").as("hot_emb"))
      emb.crossJoin(broadcast(hotVec))
        .withColumn("embedding",
          when(col("vec_id") % 2 === 0, col("hot_emb")).otherwise(col("embedding")))
        .drop("hot_emb")
        .write.mode("overwrite").parquet(s"$degDir/embeddings.parquet")
      java.nio.file.Files.writeString(marker.toPath, srcKey)
    }
    val family = Seq(
      "q_llm_exact_dedup", "q_llm_minhash", "q_llm_minhash_est",
      "q_llm_minhash_sketch", "q_llm_ngram_jaccard", "q_llm_simhash",
      "q_llm_simhash_neardup", "q_llm_dup_clusters", "q_llm_cluster_stats",
      "q_llm_dedup_keep_best", "q_llm_corpus_curate", "q_llm_contamination",
      "q_llm_embed_neardup", "q_text_boilerplate", "q_text_fingerprint",
      // r8: the round-7 operators, probed under mass duplication + the
      // 90%-one-source corpus (dataset_diff's full-outer join carries a
      // half-duplicated digest payload; the three per-source shapes face
      // one dominant group key)
      "q_llm_dataset_diff", "q_llm_dup_rate_by_source",
      "q_llm_stratified_sample", "q_llm_token_budget",
      // r8 late: the leakage audit under mass duplication — the hot
      // shingle set crosses the df cap and drops out of the join entirely
      "q_llm_split_leakage",
      // r8 late: block dedup under mass duplication — the 2,500-clone
      // block hashes concentrate the df rejoin on few keys, but the join
      // carries one small row per block occurrence, never span text
      "q_llm_block_dedup",
      // r8 late: semdedup under mass duplication — the identical-vector
      // mega-cell is cut to MaxEmbBucket members before pairing (vectors
      // past the cap keep their verdict trivially)
      "q_llm_emb_semdedup",
      // r9: the round-8 operators under mass duplication + source
      // dominance — bpe's pair stage shrinks (fewer distinct tokens),
      // prefix dedup faces one dominant prefix group, novelty's bigram
      // df rejoin concentrates on the cloned bigrams, and cross-source
      // overlap faces the 90%-one-source histogram
      "q_llm_bpe_pairs", "q_llm_prefix_dedup", "q_llm_ngram_novelty",
      "q_llm_cross_source_overlap",
      // r9 late: multi-probe semdedup under the identical-vector mega-cell
      // (probe rows double the cell load; the cap still bounds pairing),
      // and the BPE trainer/encoder (mass duplication shrinks the
      // distinct-token symbol relation, so the merge loop gets cheaper;
      // the encode broadcast map shrinks with it)
      "q_llm_emb_semdedup_mp", "q_llm_bpe_train", "q_llm_bpe_encode",
      // r9 late: winnow under mass duplication (the cloned docs' selected
      // fingerprints all collide — nd concentrates but the rejoin carries
      // one row per (doc, fingerprint), never a window over the hot key)
      // and CDC chunking (counting, not pairing: the hot chunks collapse
      // in the (source, digest) agg, so duplication makes it CHEAPER)
      "q_text_winnow", "q_llm_cdc_chunks",
      // r9 late: the weighted sampler under mass duplication (n_chars
      // collapses to one hot length — priorities still total-order by the
      // salt-9 hash, the top-k scan shape is data-independent) and the
      // importance weights under it (one dominant bigram multiset: the
      // count agg combines map-side, the rejoin stays 1-build-row-per-key
      // however hot the key — the count-over-hot-key discipline)
      "q_llm_weighted_sample", "q_llm_importance_weights",
      // r9 late: entropy under mass duplication (hot token digests stay
      // map-side-combinable counts), the tertile buckets (one dominant
      // ppm value stresses the cut ties — all clones land in one bucket,
      // the valueAtRanks histogram stays value-domain-bounded), and the
      // fertility audit (duplication SHRINKS the broadcast vocab)
      "q_text_entropy", "q_llm_quality_buckets", "q_llm_tok_fertility",
      "q_llm_curriculum", "q_llm_shard_pack",
      // r9 continuation: the Pareto frontier under mass duplication (the
      // 2,500 clones share ONE (ppm, n_chars) point — the per-ppm agg
      // collapses them before the bounded staircase window) and the
      // edit-distance verdict (the clone mega-bucket is cut to MaxBucket
      // candidates BEFORE any DP; per-pair cost stays EditPfx²-bounded)
      "q_llm_pareto_prune", "q_llm_editdist_neardup",
      // r9 continuation: BM25 under mass duplication — the clones share
      // one (dl, tf) profile, so the per-(doc, term) relation stays
      // 4-bounded per doc and the conditional-max pivot agg combines
      // map-side; the hot doc text never reaches an exchange
      "q_text_bm25",
      // r9 continuation: fusion under mass duplication — clone ties in
      // both lists resolve by doc_id; the bounded top-100 cuts keep the
      // fusion join size fixed however hot the clone scores are
      "q_text_rank_fusion",
      // r9 continuation: RAKE under mass duplication — the clones share
      // one segmentation, so their phrase occurrences collapse in the
      // (doc, pid) agg and the hot phrase type carries counts + ONE text
      // payload row per occurrence, never a window over the hot key
      "q_text_rake",
      // r9 continuation: the dataset card under mass duplication — the
      // clones collapse onto one digest row and dup_rate is exactly what
      // the audit must surface; diversity under the 90%-one-source skew
      "q_llm_dataset_card", "q_agg_diversity",
      // r11: gopher rules under mass duplication (the hot doc's bigram
      // stats compute once per doc — per-doc aggs collapse map-side;
      // duplicate-bigram occupancy is exactly what the rule must flag),
      // source JSD under the 90%-one-source skew (one marginal dominates:
      // the self-join still carries one row per shared digest), the
      // capped-LSH recall harness under the clone mega-bucket (caps bound
      // candidate work; recall is WHAT the harness quantifies), and the
      // mix allocator under source dominance (sqrt flattens exactly the
      // skew the probe manufactures)
      "q_llm_gopher_quality", "q_text_source_jsd",
      "q_llm_minhash_recall", "q_llm_mix_alpha",
      // r12: span-granular dedup under mass duplication — the clones'
      // sliding windows all collide, so the df rejoin concentrates on the
      // hot digests (one 3-long row per window occurrence, never text; the
      // block_dedup precedent) and EVERY clone position goes dup — the
      // islands merge then runs per doc on full-length dup runs, i.e. the
      // maximum-work case for the gaps-and-islands window
      "q_llm_span_dedup",
      // r12 continuation: bag-of-words dedup under mass duplication — the
      // 2,500 clones share ONE bag digest, so the bag-size agg collapses
      // map-side to a single hot row and the sz>1 rejoin stays a
      // broadcast against the doc scan (the count-over-hot-key
      // discipline); every clone flags bag_dup AND ex_dup, so
      // reorder_only stays 0 on pure clones
      "q_llm_bow_dedup")
    for ((dir, label) <- Seq((srcDir, "uniform"), (degDir, "degen"))) {
      family.foreach { name =>
        val t0 = System.nanoTime()
        val n = try SparkEntry.queries(name)(spark, dir).count()
          catch { case e: Throwable =>
            println(s"[scale] degen $name FAILED: ${e.getMessage}"); -1L }
        println(f"[scale] degen/$label%-7s $name%-24s " +
          f"${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
      }
    }
    // the bound itself: capped pair work in the dominant band bucket
    val sigs = ops.LlmOps.simhashSigs(ops.table(spark, degDir, "documents"), 64)
    val simBands = (0 until 4).map { b =>
      sigs.select(concat_ws("/", lit(b),
        shiftrightunsigned(col("simhash"), 16 * b)
          .bitwiseAND(lit(0xFFFFL))).as("bucket_key"))
    }.reduce(_.union(_))
    val row = simBands.groupBy("bucket_key").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_n"),
        sum(least(col("n"), lit(50)) * least(col("n"), lit(50))).as("pair_work"))
      .head()
    println(f"[scale] degen simhash bands: buckets=${row.getLong(0)} " +
      f"max=${row.getLong(1)} capped_pair_work=${row.getLong(2)}")
  }

  /** ×N build-vs-read split for the three cost-concentrating index
    * builds (r13, verdict item 7): the tf-aggregated token index
    * (TextOps.tokenIndexFor), the co-purchase adjacency + mutual-KNN
    * graph (GraphOps), and the MinHash candidate index
    * (LlmOps.candidateIndexFor). Per family: the FIRST consumer runs
    * cold (pays the whole build), the remaining consumers warm — the
    * ×10 amortization story measured past its probe point (default
    * ×30). Results go to SCALING.md next to the ×10 rows. */
  private def bigAmortizeProbe(spark: SparkSession, outDir: String,
      copies: Int): Unit = {
    // tags are EXPLICIT per entry (r14): "cold" marks the query that
    // pays an index build in that position, "warm" a memo-hit read.
    // Repeated names are deliberate true-warm measurements — r14 fixed
    // the r13 misattribution where "triangles 17.1 s warm" was actually
    // the copurchase+mutual-KNN build (q_graph_degree only pays
    // purchaseGraph; repeat-probed, the wedge join itself is 0.57 s at
    // ×30).
    def time(label: String, names: Seq[(String, String)]): Unit =
      names.foreach { case (tag, n) =>
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, outDir).count()
        println(f"[scale-x$copies] $label%-7s $tag $n%-24s " +
          f"${(System.nanoTime() - t0) / 1e9}%8.2f s rows=$rows")
      }
    // warmup (JIT + parquet footers) on a cheap scan-shaped query
    SparkEntry.queries("q_agg_basic")(spark, outDir).count()
    ops.IndexCache.clear()
    time("token", Seq(
      "cold" -> "q_text_langid", // pays tokenIndexFor
      "warm" -> "q_text_langid", // the read alone
      "warm" -> "q_text_tfidf", "warm" -> "q_text_oov",
      "warm" -> "q_text_vocab"))
    ops.IndexCache.clear()
    time("graph", Seq(
      "cold" -> "q_graph_degree", // pays purchaseGraph (lineitem ⋈ orders)
      "cold" -> "q_graph_triangles", // pays copurchase adj + mutual-KNN
      "warm" -> "q_graph_triangles", // the wedge join alone
      "warm" -> "q_graph_concomp", "warm" -> "q_graph_simnodes"))
    ops.IndexCache.clear()
    time("minhash", Seq(
      "cold" -> "q_llm_minhash", // pays candidateIndexFor
      "warm" -> "q_llm_minhash_est", "warm" -> "q_llm_ngram_jaccard",
      "cold" -> "q_llm_dup_clusters", // pays its own cluster-label layer
      "warm" -> "q_llm_dup_clusters"))
  }

  /** Index-build amortization, measured end-to-end: the expensive index
    * builds (duplicate-cluster labels, IVF centroids) are memoized per
    * corpus content digest (CurationOps.dupClustersFor, AnnOps.centroidsFor).
    * Runs the index-consuming queries twice — cold (memo cleared, the first
    * consumer of each index pays its build) and warm (memo hit) — so the
    * reuse win is a SCALING.md number instead of prose.
    */
  private def amortizationProbe(spark: SparkSession, outDir: String): Unit = {
    val consumers = Seq("q_llm_dup_clusters", "q_llm_dedup_keep_best",
      "q_llm_corpus_curate", "q_llm_contamination",
      "q_llm_sim_knn_ivf", "q_llm_sim_knn_ivf2",
      "q_llm_minhash", "q_llm_minhash_est", "q_llm_ngram_jaccard",
      "q_graph_pagerank", "q_graph_degree",
      // r9 late: the co-purchase graph family (shared adjacency +
      // mutual-KNN indexes, memoized component labels) and the
      // quality-score consumers (shared qbScore relation)
      "q_graph_concomp", "q_graph_triangles", "q_graph_simnodes",
      "q_llm_quality_buckets", "q_llm_curriculum")
    def pass(label: String): Double = {
      val t0 = System.nanoTime()
      consumers.foreach(n => SparkEntry.queries(n)(spark, outDir).count())
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] amortize $label%-4s pass ${dt}%7.2f s over ${consumers.size} consumers")
      dt
    }
    ops.IndexCache.clear()
    val cold = pass("cold")
    val warm = pass("warm")
    println(f"[scale] amortize build-share ${(cold - warm) / cold * 100}%.0f%%" +
      f" (cold=$cold%.2f s, warm=$warm%.2f s, marginal=${warm / consumers.size}%.2f s/query)")
  }

  /** Bucket-size distributions behind the two super-linear ×10 rows
    * (q_llm_simhash_neardup, q_mm_neardup), at sf0.1 and ×10 — so
    * "cap-bounded, grows with the bucket histogram" is SHOWN in SCALING.md,
    * not assumed. Reports, per path and scale: bucket count, max/p99 sizes,
    * and the capped pair work Σ min(n, cap)² the join actually performs.
    */
  private def bucketHistograms(spark: SparkSession, srcDir: String,
      outDir: String): Unit = {
    def report(tag: String, buckets: DataFrame, cap: Int): Unit = {
      val row = buckets.groupBy("bucket_key").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_n"),
          expr("percentile(n, 0.99)").as("p99_n"),
          sum(least(col("n"), lit(cap)) * least(col("n"), lit(cap))).as("pair_work"),
          sum(when(col("n") > cap, col("n") - cap).otherwise(0)).as("rows_capped"))
        .head()
      println(f"[scale] hist $tag%-28s buckets=${row.getLong(0)}%7d " +
        f"max=${row.getLong(1)}%6d p99=${row.getDouble(2)}%8.1f " +
        f"pair_work=${row.getLong(3)}%12d rows_over_cap=${row.getLong(4)}%8d")
    }
    for ((dir, scale) <- Seq((srcDir, "sf0.1"), (outDir, "x10"))) {
      val sigs = ops.LlmOps.simhashSigs(ops.table(spark, dir, "documents"), 64)
      val simBands = (0 until 4).map { b =>
        sigs.select(concat_ws("/", lit(b),
          shiftrightunsigned(col("simhash"), 16 * b)
            .bitwiseAND(lit(0xFFFFL))).as("bucket_key"))
      }.reduce(_.union(_))
      report(s"simhash_neardup@$scale", simBands, cap = 50)
      report(s"mm_neardup@$scale",
        multimodal.MultimodalOps.latticeBuckets(spark, dir)
          .select(col("bucket").cast("string").as("bucket_key")),
        cap = 200)
    }
  }

  /** Deliberately skewed as-of probe: collapse every 10th user onto one hot
    * key in BOTH events and orders (×10 fixture → ~100k events and ~150k
    * orders on a single user, ≈150× the average density). The old
    * join-then-aggregate as-of would generate 100k×150k ≈ 1.5e10
    * intermediate pairs for that key alone; the merge-scan formulation
    * sorts the hot user's ~250k timeline rows in one task — the probe
    * passes iff the runtime stays in the same decade as the unskewed ×10
    * row (SCALING.md).
    */
  private def skewProbe(spark: SparkSession, outDir: String): Unit = {
    // mod 10 → 1/10 of all rows on key 0 ≈ 150× the mean per-key density;
    // mod 2 → half of all rows on key 0 ≈ 750× (the r5 two-level as-of
    // acceptance bar: ≥500× with flat runtime)
    for ((mod, label) <- Seq((10, "skew150x"), (2, "skew750x"))) {
      val skewDir = s"$outDir-skew$mod"
      val marker = new java.io.File(s"$skewDir/_GRAFT_SKEW_DONE")
      if (!marker.exists()) {
        ops.table(spark, outDir, "events")
          .withColumn("user_id",
            when(col("user_id") % mod === 0, lit(0L)).otherwise(col("user_id")))
          .withColumn("ts", unix_micros(col("ts")) * 1000) // loader's raw-ns form
          .write.mode("overwrite").parquet(s"$skewDir/events.parquet")
        ops.table(spark, outDir, "orders")
          .withColumn("o_custkey",
            when(col("o_custkey") % mod === 0, lit(0L)).otherwise(col("o_custkey")))
          .write.mode("overwrite").parquet(s"$skewDir/orders.parquet")
        java.nio.file.Files.writeString(marker.toPath, "ok")
      }
      for (name <- Seq("q_join_asof", "q_join_asof_fwd")) {
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, skewDir).count()
        println(f"[scale] $label $name%-20s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
      }
    }
  }

  /** Streaming-path probe: the full DeliverySink.run pipeline (file source →
    * micro-batch → frame → lanes → ≤500-record, ≤4 MiB chunks → submit)
    * over the ×10 events fixture (~1M records), against a no-op accepting
    * service so the number measures ENGINE throughput (serialization,
    * lanes, chunking), not mock bookkeeping. Records/s lands in SCALING.md.
    */
  private def streamingProbe(spark: SparkSession, outDir: String): Unit = {
    import graft.core.DeliverySettings
    import graft.streaming.{BatchResult, DeliveryService, DeliverySink, RecordResult}
    val evDir = s"$outDir/events.parquet"
    // direct parquet read is safe HERE only because this dir is ScaleProbe's
    // own output, written with ts as a raw µs-derived long (see the
    // generation step above) — the CLAUDE.md "events via ops.table only"
    // rule targets the driver fixtures, whose ts is ns-precision parquet
    val schema = spark.read.parquet(evDir).schema
    val source = spark.readStream.schema(schema).parquet(evDir)
      .select("event_id", "user_id", "event_type", "value")
    val acceptAll = new DeliveryService {
      override def putBatch(streamName: String,
          records: Seq[Array[Byte]]): BatchResult =
        BatchResult(records.map(_ => RecordResult("ok", null)))
    }
    val settings = DeliverySettings("scale-probe", triggerIntervalMs = 0L,
      parallelism = 32)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scale-ckpt").toString
    val t0 = System.nanoTime()
    val (query, stats) = DeliverySink.run(source, settings, acceptAll, ckpt)
    try query.processAllAvailable() finally query.stop()
    val dt = (System.nanoTime() - t0) / 1e9
    val st = stats()
    println(f"[scale] streaming_delivery          ${dt}%7.2f s  " +
      f"records=${st.records} batches=${st.batches} " +
      f"rate=${st.records / dt}%.0f rec/s residual=${st.residualFailures}")
    // regression floor (round-7 verdict): the probe has measured 590–670k
    // rec/s across rounds — ≥400k leaves contention headroom but trips on
    // any multiplicative executor-path regression. (sbt test carries its
    // own scaled floor in DeliveryThroughputSpec.)
    require(st.records / dt >= 400000.0,
      f"streaming delivery rate ${st.records / dt}%.0f rec/s " +
        "below the 400k local[32] floor")
  }
}
