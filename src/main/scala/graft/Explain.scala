package graft

/** Plan inspection utility: prints the formatted physical plan for the named
  * queries (or a representative set) so scan pruning / pushdown / join
  * strategies / codegen spans can be reviewed.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_agg_basic", "q_join_multiway", "q_join_inner", "q_filter_pred",
        "q_topk_group", "q_stream_tumble", "q_llm_minhash", "q_join_asof",
        "q_sink_batchify", "q_llm_sim_knn_lsh", "q_text_tfidf", "q_funnel_steps",
        "q_win_ntile", "q_text_normalize", "q_llm_emb_classify",
        "q_win_winsorize", "q_llm_pack_chunks", "q_profile_table",
        "q_agg_heavy_hitters", "q_ts_gapfill",
        // r10 shape classes: stacked-rank RFM, co-located bucketed join,
        // SQL-text entry, wedge link prediction, one-pass moment matrix
        "q_analytics_rfm", "q_sink_bucketed", "q_sql_revenue_by_nation",
        "q_graph_linkpred", "q_profile_corr",
        // r11 shape classes: decorrelated scalar subqueries, the salted
        // skew join, the Morton stack fan-out, the digest self-join JSD,
        // the broadcast-probe recall harness
        "q_sql_small_qty_revenue", "q_join_skew_salted", "q_layout_zorder",
        "q_text_source_jsd", "q_llm_minhash_recall")
    val spark = Mains.localSession("4", "ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
