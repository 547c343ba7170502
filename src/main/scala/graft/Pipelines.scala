package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

import graft.ops.{AnalyticsOps, AnnOps, CurationOps, DiagOps, GraphOps, LlmOps, MixOps, TextOps}

/** Public library surface for the LLM-training-data pipeline operators.
  *
  * The declared queries in [[SparkEntry]] run these same primitives against
  * the driver fixtures; this facade exposes them for arbitrary DataFrames so
  * the engine is usable as a library, not just a query registry. Inputs are
  * schema-by-convention: a document frame has (`doc_id` LONG, `text` STRING,
  * plus optional metadata); an embedding frame has (`vec_id` LONG,
  * `embedding` ARRAY<FLOAT|DOUBLE>).
  *
  * Every operator keeps the scale properties documented in SCALING.md:
  * pairing goes through bucketed equi-joins (never all-pairs), aggregation
  * is partial-by-default, and iterative clustering truncates lineage per
  * round.
  */
object Pipelines {

  /** Exact dedup: one row per distinct `text` (lowest `doc_id` wins),
    * with the group size alongside. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_sha"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash-LSH near-duplicate candidate pairs (16 hashes, 8 bands):
    * (doc_a, doc_b, n_shared_bands), doc_a < doc_b. `maxBucket` caps
    * degenerate LSH buckets (keep-first-K by doc_id); pass `Int.MaxValue`
    * to disable when measuring recall. */
  def minhashCandidates(docs: DataFrame, maxBucket: Int = 50): DataFrame =
    LlmOps.candidatePairs(docs, maxBucket)

  /** Duplicate clusters: connected components over "shares a kept 5-word
    * shingle OR identical text" (see q_llm_dup_clusters). Returns
    * (doc_id, cluster_id) where cluster_id = min doc_id of the component. */
  def dupClusters(spark: SparkSession, docs: DataFrame): DataFrame =
    CurationOps.dupClusters(spark, docs)

  /** Composite quality score in [0,1]: stopword ratio and length score,
    * equally weighted (see q_text_quality). Returns (doc_id, quality). */
  def quality(docs: DataFrame): DataFrame = CurationOps.qualityOf(docs)

  /** The ids to KEEP after deduplication: the highest-quality member of
    * each duplicate cluster, ties to the lowest doc_id (the same rule the
    * oracled q_llm_dedup_keep_best query runs). */
  def dedupKeepBest(spark: SparkSession, docs: DataFrame): DataFrame =
    CurationOps.keepBestPerCluster(dupClusters(spark, docs), quality(docs))
      .select("doc_id")

  /** `bits`-wide SimHash fingerprint per document over its distinct-token
    * set. Returns (doc_id, simhash). */
  def simhash(docs: DataFrame, bits: Int = 64): DataFrame =
    LlmOps.simhashSigs(docs, bits)

  /** Brute-force cosine top-k of `probe` over an embedding frame — the
    * correctness baseline for similarity search (codegen'd fused cosine).
    * Returns (vec_id, cos_sim) ordered best-first. */
  def knn(spark: SparkSession, embeddings: DataFrame, probe: Seq[Double],
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    embeddings
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("emb"))
      .select(col("vec_id"),
        call_function("cosine_sim", col("emb"), typedlit(probe)).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  /** Text normalization (lowercase/trim/collapse-whitespace) +
    * normalized-exact-dup group sizes: (doc_id, norm_len, nhash,
    * n_same_norm). The shuffle carries digests, never the text. */
  def normalize(docs: DataFrame): DataFrame =
    TextOps.normalizedDupGroups(docs)

  /** Per-document LM novelty vs the corpus bigram counts: (doc_id,
    * n_bigrams, n_distinct, n_singleton, novelty_rate) — the
    * "boilerplate vs novel" ranking signal (see q_llm_doc_lm_score). */
  def noveltyScore(docs: DataFrame): DataFrame =
    CurationOps.docLmScore(docs)

  /** Exact per-label mean-embedding arrays (2^16-quantized BIGINT sums —
    * deterministic at any parallelism): (c_label, cent ARRAY<DOUBLE>).
    * #labels rows — always broadcastable. */
  def classCentroids(embeddings: DataFrame): DataFrame =
    AnnOps.embCentroidArrays(embeddings)

  /** Nearest-class-mean classification: every vector scored against the
    * broadcast class centroids with the fused cosine, argmax with a label
    * tie-break. Returns (vec_id, label, pred_label, best_cos). */
  def classify(spark: SparkSession, embeddings: DataFrame): DataFrame =
    AnnOps.classifyByCentroids(spark, embeddings)

  /** Deterministic 90/5/5 train/val/test assignment by a replayable hash
    * of `doc_id` — no RNG, stable under corpus growth, zero shuffle. Adds
    * (bucket, split) to the input frame (see q_llm_split_assign). */
  def splitAssign(docs: DataFrame): DataFrame = MixOps.splitAssign(docs)

  /** sqrt-temperature domain-mixing weights per `source`: (source, n_docs,
    * sum_chars, w, share), share summing to 1 (see q_llm_domain_mix). */
  def domainMix(docs: DataFrame): DataFrame = MixOps.domainMix(docs)

  /** Concat-and-chunk packing offsets in doc_id order: (doc_id, n_tokens,
    * start_off, chunk_first, chunk_last, n_chunks) for `chunkTokens`-sized
    * context windows, via the weighted `ops.globalRowNumber` — no
    * single-partition window (see q_llm_pack_chunks). */
  def packChunks(docs: DataFrame, chunkTokens: Long = 512L): DataFrame =
    MixOps.packChunks(docs, chunkTokens)

  /** L2-normalize + int8-quantize an embedding frame: (vec_id, label, norm,
    * q_sum, q_l1, q_min, q_max) — all projections exact BIGINT (see
    * q_llm_emb_quantize). */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame =
    MixOps.quantizeEmbeddings(embeddings)

  /** Per-doc boilerplate coverage against 5-gram shingles shared by ≥
    * `minDf` docs: (doc_id, n_shingles, n_boiler, boiler_ratio) (see
    * q_text_boilerplate). */
  def boilerplate(spark: SparkSession, docs: DataFrame,
      minDf: Int = 3): DataFrame =
    MixOps.boilerplateCoverage(spark, docs, minDf)

  /** Exactly-k uniform deterministic sample of a document frame by
    * replayable hash rank — guarantees the sample SIZE (unlike rate-based
    * mod filters) with no RNG and no global sort (see q_llm_sample_k). */
  def sampleK(docs: DataFrame, k: Int): DataFrame = MixOps.sampleK(docs, k)

  /** Exact distributed winsorization of an (event_id, event_type, value)
    * frame at the per-group [p05, p95]: adds `value_w`, cut points located
    * by bucketed order-statistic selection — no per-group single-task sort
    * (see q_win_winsorize). */
  def winsorize(events: DataFrame): DataFrame = DiagOps.winsorize(events)

  /** Zero-filled hourly cent grid `(event_type, h, k)` of an
    * (event_type, ts TIMESTAMP, value) frame — the shared substrate of
    * the grid-analytics family (periodogram, ADF, Hurst, Bollinger,
    * trend tests); k is the hour's exact value sum in cents. */
  def hourlyGrid(events: DataFrame): DataFrame = DiagOps.hourlyGrid(events)

  /** Dickey–Fuller unit-root report over a [[hourlyGrid]]-shaped frame
    * (see q_ts_adf): t-stat of (ρ̂ − 1) per event_type, −2.86 critical
    * value at 5%. */
  def adf(grid: DataFrame): DataFrame = graft.ops.TsOps.adfOf(grid)

  /** Rescaled-range (Hurst) R/S profile over a [[hourlyGrid]]-shaped
    * frame (see q_ts_hurst): mean R/S per (event_type, 64/256-hour
    * window scale). */
  def hurstProfile(grid: DataFrame): DataFrame = graft.ops.TsOps.hurstOf(grid)

  /** Pairwise Granger-causality screen over a [[hourlyGrid]]-shaped
    * frame (see q_ts_granger, r14): per ordered type pair, the F test
    * of whether src's lag improves dst's AR(1) fit; 3.84 critical
    * value at 5%. */
  def granger(grid: DataFrame): DataFrame = graft.ops.TsOps.grangerOf(grid)

  /** Sensitive-term/PII scrubbing: (doc_id, n_sensitive, clean_len,
    * clean_sha) for an RE2-compatible `pattern` replaced by `placeholder`
    * — the scrubbed text never leaves the scan (see q_text_scrub). */
  def scrub(docs: DataFrame,
      pattern: String = TextOps.SensitivePattern,
      placeholder: String = TextOps.Redaction): DataFrame =
    TextOps.scrub(docs, pattern, placeholder)

  /** Sliding-window chunk spans with overlap: (doc_id, n_tokens, chunk_id,
    * start, chunk_len) for `win`-token windows every `stride` tokens — the
    * RAG/long-context layout; [[packChunks]] is the disjoint variant (see
    * q_llm_chunk_overlap). */
  def chunkOverlap(docs: DataFrame, win: Long = 64L,
      stride: Long = 48L): DataFrame =
    MixOps.chunkOverlap(docs, win, stride)

  /** Exactly-k-per-`source` deterministic sample by replayable hash rank:
    * (source, rn, doc_id, h) — the stratified counterpart of [[sampleK]]
    * (see q_llm_stratified_sample). */
  def stratifiedSample(docs: DataFrame, k: Int = 5): DataFrame =
    MixOps.stratifiedSample(docs, k)

  /** Snapshot diff of two (doc_id, text) frames: (doc_id, status) with
    * status in added/removed/changed/unchanged — the dataset-versioning
    * audit (see q_llm_dataset_diff). */
  def datasetDiff(v1: DataFrame, v2: DataFrame): DataFrame =
    MixOps.datasetDiff(v1, v2)

  /** Largest-remainder token-budget allocation across `source` strata:
    * (source, n_tokens, alloc_tokens) with Σ alloc = `budget` exactly and
    * every allocation within 1 of its exact proportional share (see
    * q_llm_token_budget). */
  def tokenBudget(docs: DataFrame, budget: Long = 1000000L): DataFrame =
    MixOps.tokenBudget(docs, budget)

  /** Train/test split-leakage audit: per TEST-split doc (the [[splitAssign]]
    * assignment), the kept 5-word shingles it shares with any TRAIN-split
    * doc — (test_doc, n_hits, n_shingles, first_train_doc); empty result =
    * no near-dup leakage across the boundary (see q_llm_split_leakage). */
  def splitLeakage(spark: SparkSession, docs: DataFrame): DataFrame =
    CurationOps.splitLeakage(spark, docs)

  /** Span-level exact-dup stats per doc: disjoint `w`-token block hashes,
    * global duplicate-block counts, and a fingerprint of the unique blocks
    * (what survives span dedup) — (doc_id, n_tokens, n_blocks,
    * n_dup_blocks, dup_ratio, uniq_fp). See q_llm_block_dedup. */
  def blockDedup(spark: SparkSession, docs: DataFrame, w: Int = 8): DataFrame =
    LlmOps.blockDedupStats(spark, docs, w)

  /** Span-GRANULAR exact-substring dedup report (r12): sliding `w`-token
    * window digests, dup positions merged gaps-and-islands into MAXIMAL
    * removable spans of any length/alignment — (doc_id, n_tokens, n_spans,
    * removed_tokens, kept_tokens, span_fp). The removable-span report;
    * survivor choice is a downstream policy. See q_llm_span_dedup. */
  def spanDedup(spark: SparkSession, docs: DataFrame, w: Int = 8): DataFrame =
    LlmOps.spanDedupReport(spark, docs, Seq(w)).drop("w")

  /** SemDeDup-shaped per-vector dedup verdict over (vec_id, label,
    * emb ARRAY<DOUBLE>): within a capped sign-LSH cell, drop any vector
    * with a lower-id neighbor at cosine >= tau — (vec_id, label, dup_of,
    * keep). See q_llm_emb_semdedup. */
  def semdedup(spark: SparkSession, emb: DataFrame, tau: Double = 0.4): DataFrame =
    AnnOps.semdedupVerdicts(spark, emb, tau)

  /** Sensitive-content incidence per source (the pre-scrub audit):
    * (source, n_docs, docs_with_hits, total_hits, max_hits). */
  def piiAudit(docs: DataFrame): DataFrame = TextOps.piiAudit(docs)

  /** Last-touch conversion attribution over an events frame:
    * (channel, n_conv, revenue). See q_analytics_attribution. */
  def attribution(events: DataFrame): DataFrame =
    AnalyticsOps.lastTouchAttribution(events)

  /** Multi-probe SemDeDup verdict (r9): as [[semdedup]] but each vector
    * also probes the cell across its smallest-margin hyperplane — part of
    * the single-probe recall miss recovered for 2× bucket rows. See
    * q_llm_emb_semdedup_mp. */
  def semdedupMultiProbe(spark: SparkSession, emb: DataFrame,
      tau: Double = 0.4): DataFrame =
    AnnOps.semdedupMultiProbeVerdicts(spark, emb, tau)

  /** BPE fit (r9): run the merge loop ONCE and get both artifacts — the
    * merge table (merge_rank, p1, p2, pair_count) and the learned symbol
    * relation to pass to [[bpeEncode]]. NOTE: unlike the other (lazy)
    * facade methods this runs Spark jobs at call time (one corpus scan +
    * one 1-row action per iteration). Train-then-encode should call THIS
    * once, not bpeTrain + the one-argument bpeEncode (which would pay the
    * loop twice). */
  def bpeFit(spark: SparkSession, docs: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (merges, syms) = CurationOps.bpeMergeLoop(spark, docs)
    (merges.toDF("merge_rank", "p1", "p2", "pair_count"), syms)
  }

  /** BPE training (r9): the merge table alone. See q_llm_bpe_train. */
  def bpeTrain(spark: SparkSession, docs: DataFrame): DataFrame =
    bpeFit(spark, docs)._1

  /** BPE encode (r9) with a symbol relation from [[bpeFit]]: per-doc
    * (n_tokens, n_chars_tok, n_syms, chars_per_sym). The per-doc pass is
    * a broadcast vocab map; no token text shuffles. See q_llm_bpe_encode. */
  def bpeEncode(docs: DataFrame, learnedSyms: DataFrame): DataFrame =
    CurationOps.bpeEncodeFrame(docs, learnedSyms)

  /** Fit-and-encode convenience (pays the merge loop). */
  def bpeEncode(spark: SparkSession, docs: DataFrame): DataFrame =
    bpeEncode(docs, bpeFit(spark, docs)._2)

  /** Winnowing fingerprint stats (r9, the MOSS selection): per doc the
    * selected-fingerprint count and how widely its most-shared fingerprint
    * occurs corpus-wide. Guarantee: any shared substring of ≥ 11 codepoints
    * shares a fingerprint. See q_text_winnow. */
  def winnowStats(spark: SparkSession, docs: DataFrame): DataFrame =
    TextOps.winnowStats(spark, docs)

  /** Content-defined chunking report (r9, Rabin-style boundaries): per
    * source the chunk-level storage-dedup numbers (total vs distinct chunk
    * digests, avg chunk length). See q_llm_cdc_chunks. */
  def cdcChunkReport(spark: SparkSession, docs: DataFrame): DataFrame =
    CurationOps.cdcChunkReport(spark, docs)

  /** Integer-scaled PageRank (r9; limit-cycle contract since r10) over an
    * arbitrary directed `(src, dst)` arc frame: returns (node_id, r). The
    * floor-quantized damped map generally has NO exact integer fixpoint, so
    * iterations run until the exact period-≤2 limit cycle is detected
    * (Σ|r_k − r_{k−2}| = 0; throws past [[ops.GraphOps.PrMaxRounds]] rounds
    * — the refusal discipline) and the result is the elementwise min of the
    * two cycle states, r in units of [[ops.GraphOps.PrScale]] per node. Give every node an
    * out-arc (e.g. arcs both ways for an undirected graph) — dangling mass
    * is not redistributed. NOTE: runs Spark jobs at call time (the
    * per-iteration rank materialization). See q_graph_pagerank. */
  def pagerank(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).cast("long").as("d"))
      .localCheckpoint(true)
    GraphOps.pagerankRanks(e, deg)
  }

  /** Connected components (r9) over an arbitrary undirected arc frame
    * (`src`, `dst`; supply both directions): relax+jump min-label doubling
    * to the fixpoint — O(log diameter) checkpointed rounds; throws rather
    * than return unconverged labels past `maxRounds` (diameter > 2^rounds).
    * Returns (node, lab) with lab = the component's min node id. NOTE:
    * runs Spark jobs at call time. */
  def connectedComponents(edges: DataFrame,
      maxRounds: Int = GraphOps.CcMaxRounds): DataFrame =
    GraphOps.minLabelRounds(
      edges.select(col("src"), col("dst")).localCheckpoint(true), maxRounds)

  /** Weight-proportional exactly-k deterministic sample (r9, sequential
    * Poisson): keep the k docs with smallest salt-9-hash·2²⁰ div weight.
    * `docs` needs `doc_id` and the weight column (default n_chars). */
  def weightedSample(docs: DataFrame, k: Int,
      weightCol: String = "n_chars"): DataFrame =
    MixOps.weightedSample(docs, k, weightCol)

  /** Quantized-DSIR importance weights (r9): per-doc integer-log2
    * likelihood ratio of its bigrams under `targetSource` vs the whole
    * corpus. See q_llm_importance_weights. */
  def importanceWeights(spark: SparkSession, docs: DataFrame,
      targetSource: String = "src0"): DataFrame =
    CurationOps.importanceWeights(spark, docs, targetSource)

  /** Association-rule mining over order lines (l_orderkey, l_partkey):
    * top-k part pairs by lift with support/confidence. See
    * AnalyticsOps.basketRules for the basket-width pairing bound. */
  def basketRules(lines: DataFrame, minSupport: Long = 2L,
      topK: Int = 25): DataFrame =
    AnalyticsOps.basketRules(lines, minSupport, topK)

  /** Hour-of-day seasonal profile of an events frame (event_type, ts,
    * value): per-cell share, mean, and deviation from the type mean. */
  def seasonalProfile(events: DataFrame): DataFrame =
    DiagOps.seasonalProfile(events)

  /** Truncated-EWMA smoothing (K=8, α=1/2) of the zero-filled hourly
    * value series of an events frame. */
  def ewmaSmooth(events: DataFrame): DataFrame = DiagOps.ewmaSmooth(events)

  /** Per-doc BM25 relation against the fixed query (doc_id, dl, n_terms,
    * bm25) — docs matching ≥ 1 term; order + limit for a top-k. */
  def bm25(docs: DataFrame): DataFrame = TextOps.bm25Doc(docs)

  /** RRF-fuse two bounded rank relations (doc_id, ra) / (doc_id, rb).
    * Inputs must already be bounded top-k cuts. */
  def rrfFuse(a: DataFrame, b: DataFrame, topK: Int = 20): DataFrame =
    CurationOps.rrfFuse(a, b, topK)

  /** One referential-integrity audit row for a (child, fk, parent, pk)
    * edge: child count, orphans, orphan rate. */
  def integrityEdge(child: DataFrame, fk: String, parent: DataFrame,
      pk: String, label: String): DataFrame =
    DiagOps.integrityEdge(child, fk, parent, pk, label)

  /** One-row dataset-card release summary over a documents frame (size,
    * token mass, diversity, exact-dup rate, mean lengths). */
  def datasetCard(docs: DataFrame): DataFrame = CurationOps.datasetCard(docs)

  /** Install + enable the opt-in LSH similarity-join rewrite on a live
    * session: a `a JOIN b ON cosine_sim(...) >= tau` written naively is
    * re-planned as a sign-LSH bucket equi-join (approximate — the cosine
    * predicate survives as the exact in-cell verifier). See
    * graft.plans.LshJoinRewrite for the contract and recall caveat. */
  def enableLshJoinRewrite(spark: SparkSession,
      multiProbe: Boolean = false): Unit = {
    installLshJoinRewrite(spark)
    spark.conf.set(graft.plans.LshJoinRewrite.EnabledKey, "true")
    // widen recall with the weakest-plane-flip probe (2× left-side bucket
    // rows, still duplicate-free and a strict brute-force subset)
    spark.conf.set(graft.plans.LshJoinRewrite.MultiProbeKey,
      multiProbe.toString)
  }

  /** Idempotently install the rule WITHOUT enabling it (the flag stays
    * whatever it was) — the single install path the specs route through. */
  def installLshJoinRewrite(spark: SparkSession): Unit =
    install(spark, graft.plans.LshJoinRewrite)

  /** Idempotently install the opt-in count(DISTINCT) → HLL++ rewrite
    * (r12c3) WITHOUT enabling it. */
  def installApproxDistinct(spark: SparkSession): Unit =
    install(spark, graft.plans.ApproxDistinctRewrite)

  /** Idempotently install the opt-in exact-percentile → GK-sketch
    * rewrite (r14) WITHOUT enabling it. */
  def installApproxPercentile(spark: SparkSession): Unit =
    install(spark, graft.plans.ApproxPercentileRewrite)

  /** Idempotently install the opt-in Jaccard-threshold → MinHash-bucket
    * join rewrite (r13) WITHOUT enabling it. */
  def installJaccardJoinRewrite(spark: SparkSession): Unit =
    install(spark, graft.plans.JaccardJoinRewrite)

  /** Append `rule` to the session's `extraOptimizations` unless present. */
  private def install(spark: SparkSession, rule: Rule[LogicalPlan]): Unit =
    if (!spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
}
