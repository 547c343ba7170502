package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ReplayableHash

/** Training-mix assembly operators (SURVEY §2B "LLM-pipeline extensions",
  * round 6): deterministic train/val/test splitting, temperature-weighted
  * domain mixing, concat-and-chunk sequence packing, and corpus boilerplate
  * detection — the passes that turn a curated corpus into an actual
  * training mixture.
  *
  * Scale design (100 TB):
  *   - the split is a stateless scan-side hash of the key — no shuffle, no
  *     RNG, reproducible across engines/runs/partitionings (the same
  *     ReplayableHash affine family as the MinHash pipeline);
  *   - domain-mix weights aggregate to #sources rows; the only double
  *     summation (the weight normalizer) is an index-ordered fold over that
  *     tiny relation, so it is both IEEE-replayable and broadcastable;
  *   - sequence packing needs a GLOBAL token cumsum — the classic
  *     single-partition-window trap — so it is `ops.globalRowNumber`
  *     weighted by the token count;
  *   - boilerplate detection is two hash aggregations and one equi-join on
  *     the shingle string — never a pairwise comparison.
  */
object MixOps extends QueryModule {

  /** Context-window capacity (tokens) for concat-and-chunk packing. */
  private val ChunkTokens = 512L

  /** q_llm_packing_efficiency shared projection over (total_tokens,
    * pad_chunks, ctx) — the per-doc padding waste share, one fixed IEEE
    * chain over exact BIGINTs. */
  private val packWasteFormula =
    "CAST(1 AS DOUBLE) - CAST(total_tokens AS DOUBLE) / (pad_chunks * ctx)" +
      " AS pad_waste_ratio"

  /** doc_id bucket width for the packing cumsum's globalRowNumber. */
  private val PackBucket = 4096L

  /** A 5-gram shared by at least this many docs is "boilerplate". */
  private val BoilerDf = 3

  /** Split-hash constants — one affine family member over the doc key,
    * salt distinct from the MinHash(1)/SimHash(2) families. The SQL twin is
    * generated from the same constants, so Spark and the oracle cannot
    * drift. The key is reduced mod P BEFORE the affine map — identical
    * result for every key (modular arithmetic), and `a * (doc_id % P) + b
    * < P² ≈ 2^60` stays inside the §7.4 BIGINT bound for ANY 64-bit
    * doc_id, where the unreduced product would overflow at ~1.4e10 docs
    * (an ANSI/DuckDB runtime error at the 100 TB design scale). */
  private val (splitA, splitB) = ReplayableHash.params(1, salt = 6).head

  // private[graft]: the split-leakage audit (CurationOps) partitions its
  // shingle frame by the SAME salt-6 assignment, so leakage is measured
  // against the split q_llm_split_assign actually ships
  private[graft] def splitBucketCol = expr(
    s"(($splitA * (doc_id % ${ReplayableHash.P}) + $splitB)" +
      s" % ${ReplayableHash.P}) % 100")
  private[graft] def splitBucketSql =
    s"(($splitA * (doc_id % ${ReplayableHash.P}) + $splitB)" +
      s" % ${ReplayableHash.P}) % 100"

  /** Span-corruption constants (salt 10 — next free in the family
    * registry): member 0 decides span STARTS (rate 1/[[SpanRate]]),
    * member 1 draws the span length (1..[[SpanMaxLen]], mean 3). The
    * position key is `((doc_id % P) · 4099 + pos) % P` — reduced mod P
    * before every multiply, the §7.4 overflow discipline. */
  private val spanPs = ReplayableHash.params(2, salt = 10)
  private val (spanA0, spanB0) = spanPs(0)
  private val (spanA1, spanB1) = spanPs(1)
  private[graft] val SpanRate = 20L
  private[graft] val SpanMaxLen = 5L

  /** Sample-hash constants (salt distinct from every other family use). */
  private val (sampleA, sampleB) = ReplayableHash.params(1, salt = 7).head

  private def sampleHashSql =
    s"($sampleA * (doc_id % ${ReplayableHash.P}) + $sampleB) % ${ReplayableHash.P}"

  /** Snapshot-diff hash constants (salt 8 — its own family member, so the
    * synthetic v2 snapshot is independent of the split/sample assignments). */
  private val (diffA, diffB) = ReplayableHash.params(1, salt = 8).head

  private def diffBucketSql =
    s"(($diffA * (doc_id % ${ReplayableHash.P}) + $diffB) % ${ReplayableHash.P}) % 100"

  /** Weighted-sample hash constants (salt 9 — its own affine family, so the
    * weighted draw is independent of the uniform sample/split/diff
    * assignments). Sequential Poisson sampling (Ohlsson 1998): rank units
    * by `u / w` where u is a fixed-scale uniform surrogate — here the
    * replayable hash — and keep the k smallest, giving inclusion
    * probability ≈ proportional to the weight. The priority stays integer:
    * `(h · 2^20) div w` with h < P ≈ 2^30 keeps the product < 2^50 (§7.4
    * BIGINT bound), and integer floor-div replays exactly in DuckDB. */
  private val (wsampleA, wsampleB) = ReplayableHash.params(1, salt = 9).head
  private val WsampleScale = 1L << 20

  private def wsampleHashSql =
    s"($wsampleA * (doc_id % ${ReplayableHash.P}) + $wsampleB) % ${ReplayableHash.P}"

  /** The q_llm_weighted_sample primitive, exposed for [[graft.Pipelines]]:
    * bottom-k by integer sequential-Poisson priority over `weightCol`. */
  private[graft] def weightedSample(docs: DataFrame, k: Int,
      weightCol: String = "n_chars"): DataFrame =
    docs
      .withColumn("priority", expr(
        s"(($wsampleHashSql) * $WsampleScale) div greatest($weightCol, 1L)"))
      .orderBy("priority", "doc_id")
      .limit(k)

  /** Sliding-window chunking: 64-token windows every 48 tokens (25 %
    * overlap — the RAG/pretraining chunk layout, vs pack_chunks' disjoint
    * packing). */
  private val ChunkWin = 64L
  private val ChunkStride = 48L

  /** Clone ids for the synthetic v2 snapshot's added docs live in the
    * NEGATIVE id space (`-doc_id - 1`): real doc_ids are non-negative, so
    * clones can never collide with a live key at any corpus size (a fixed
    * positive offset would collide once ids reach it — at the ~1.4e10-doc
    * design scale a +1e6 offset is inside the live range). */
  private def diffCloneId(id: Column): Column = -id - lit(1L)
  private val diffCloneIdSql = "-doc_id - 1"

  /** Token budget apportioned across sources (q_llm_token_budget). */
  private val TokenBudget = 1000000L

  /** Exactly-k uniform deterministic sample: rank docs by a replayable hash
    * of doc_id and keep the k smallest — reproducible across engines, runs,
    * and partitionings, and executed as TakeOrderedAndProject (top-k
    * per-partition then k-merge; no global sort, no RNG state). The
    * q_llm_sample_k primitive, exposed for [[graft.Pipelines]]. */
  private[graft] def sampleK(docs: DataFrame, k: Int): DataFrame =
    docs
      .withColumn("h", expr(s"($sampleA * (doc_id % ${ReplayableHash.P})" +
        s" + $sampleB) % ${ReplayableHash.P}"))
      .orderBy("h", "doc_id")
      .limit(k)

  /** Train/val/test assignment for any (doc_id, …) frame — the
    * q_llm_split_assign primitive, exposed for [[graft.Pipelines]]. */
  private[graft] def splitAssign(docs: DataFrame): DataFrame =
    docs
      .withColumn("bucket", asLong(splitBucketCol))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))

  /** sqrt-temperature mixing weights per `source` — the q_llm_domain_mix
    * primitive. Returns (source, n_docs, sum_chars, w, share). */
  private[graft] def domainMix(docs: DataFrame): DataFrame = {
    val bySrc = docs
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        asLong(sum(col("n_chars"))).as("sum_chars"))
      .withColumn("w", sqrt(col("n_docs").cast("double")))
    val tot = bySrc.agg(
      aggregate(array_sort(collect_list(struct(col("source"), col("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("tot_w"))
    bySrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("sum_chars"), col("w"),
        (col("w") / col("tot_w")).as("share"))
  }

  /** Concat-and-chunk packing offsets — the q_llm_pack_chunks primitive.
    * The global token cumsum in doc_id order is [[globalRowNumber]]
    * weighted by `n_tokens`. Its ROWS frame equals the oracle's default
    * RANGE frame because doc_id is the documents key (unique in every
    * fixture and generator). Returns (doc_id, n_tokens, start_off,
    * chunk_first, chunk_last, n_chunks). */
  private[graft] def packChunks(docs: DataFrame,
      chunkTokens: Long = ChunkTokens): DataFrame = {
    val withTok = docs.select(col("doc_id"),
      asLong(expr("size(filter(split(text, ' '), t -> length(t) > 0))")).as("n_tokens"))
    globalRowNumber(withTok, Seq(col("doc_id")), "_pc_cum",
        weight = col("n_tokens"), bucketWidth = PackBucket)
      .withColumn("start_off", col("_pc_cum") - col("n_tokens"))
      .withColumn("chunk_first", expr(s"start_off div $chunkTokens"))
      .withColumn("chunk_last",
        expr(s"(start_off + n_tokens - 1) div $chunkTokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        col("chunk_first"), col("chunk_last"),
        (col("chunk_last") - col("chunk_first") + lit(1L)).as("n_chunks"))
  }

  /** L2-normalize + int8-quantize an embedding frame — the
    * q_llm_emb_quantize primitive. Returns (vec_id, label, norm, q_sum,
    * q_l1, q_min, q_max). */
  private[graft] def quantizeEmbeddings(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"), _.cast("double")).as("emb"))
      .withColumn("norm", sqrt(aggregate(
        transform(col("emb"), x => x * x), lit(0.0), (a, b) => a + b)))
      .withColumn("qv", when(col("norm") === 0.0,
          transform(col("emb"), _ => lit(0L)))
        .otherwise(transform(col("emb"),
          x => floor(x / col("norm") * 127.0 + 0.5).cast("long"))))
      .select(col("vec_id"), col("label"), col("norm"),
        aggregate(col("qv"), lit(0L), (a, b) => a + b).as("q_sum"),
        aggregate(transform(col("qv"), v => abs(v)), lit(0L), (a, b) => a + b).as("q_l1"),
        array_min(col("qv")).as("q_min"),
        array_max(col("qv")).as("q_max"))

  /** Boilerplate-coverage ratios — the q_text_boilerplate primitive.
    * Returns (doc_id, n_shingles, n_boiler, boiler_ratio); docs shorter
    * than 5 tokens emit no shingles and no row. */
  private[graft] def boilerplateCoverage(s: SparkSession,
      docs: DataFrame, minDf: Int = BoilerDf): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sh = docs
      .select(col("doc_id"), call_function("shingles", col("text"), lit(5)))
      .select("doc_id", "shingle")
      .distinct()
    val boiler = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("shingle"), lit(1L).as("is_boiler"))
    sh.join(boiler, Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(asLong(count(lit(1))).as("n_shingles"),
        asLong(sum(coalesce(col("is_boiler"), lit(0L)))).as("n_boiler"))
      .withColumn("boiler_ratio",
        col("n_boiler").cast("double") / col("n_shingles"))
  }

  def queries: Seq[(String, Q)] = Seq(
    // Deterministic train/val/test assignment: hash the stable doc key into
    // 100 buckets (90/5/5). No RNG and no state — a pure scan-side map, so
    // the split is identical on every engine, run, and partitioning, and a
    // doc's assignment never changes as the corpus grows (the property a
    // training pipeline actually needs from its split).
    "q_llm_split_assign" -> ((s: SparkSession, dir: String) =>
      splitAssign(table(s, dir, "documents"))
        .select("doc_id", "lang", "bucket", "split")
        .orderBy("doc_id")),

    // T5-style span-corruption PLAN: deterministic mask spans per document
    // (start rate 1/SpanRate per position, lengths 1..SpanMaxLen) drawn
    // from a ReplayableHash affine pair (salt 10) on the (doc_id, pos)
    // key; overlapping spans merge EXACTLY via gaps-and-islands over the
    // distinct masked positions — the pre-training mask layout a pipeline
    // ships with the batch, reproducible across engines/runs/partitionings
    // (no RNG). Scale: exploded frames carry only (doc_id, pos) longs (a
    // start fans out ≤ SpanMaxLen+1 rows), and the island window
    // partitions by doc_id — high-cardinality, never a global window.
    "q_llm_span_corrupt" -> ((s: SparkSession, dir: String) => {
      val P = ReplayableHash.P
      val tk = table(s, dir, "documents")
        .withColumn("toks", expr("filter(split(text, ' '), t -> length(t) > 0)"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n"),
          posexplode(col("toks")))
        .select(col("doc_id"), col("n"), (col("pos") + 1).cast("long").as("pos"))
        .withColumn("h0", expr(s"((doc_id % $P) * 4099 + pos) % $P"))
      val st = tk
        .where(expr(s"(($spanA0 * h0 + $spanB0) % $P) % $SpanRate = 0"))
        .select(col("doc_id"), col("pos"),
          least(col("pos") +
            expr(s"(($spanA1 * h0 + $spanB1) % $P) % $SpanMaxLen"),
            col("n")).as("send"))
      val masked = st.select(col("doc_id"),
          explode(expr("sequence(pos, send)")).as("mpos")).distinct()
      val ag = masked
        .withColumn("prev",
          lag("mpos", 1).over(Window.partitionBy("doc_id").orderBy("mpos")))
        .groupBy("doc_id").agg(
          asLong(count(lit(1))).as("n_masked"),
          asLong(sum(when(col("prev").isNull ||
            col("prev") =!= col("mpos") - 1, 1L).otherwise(0L))).as("n_spans"))
      table(s, dir, "documents")
        .select(col("doc_id"), expr(
          "CAST(size(filter(split(text, ' '), t -> length(t) > 0)) AS BIGINT)")
          .as("n_tokens"))
        .join(ag, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_masked"), lit(0L)).as("n_masked"),
          when(col("n_tokens") > 0,
            coalesce(col("n_masked"), lit(0L)).cast("double") / col("n_tokens"))
            .as("mask_rate"))
        .orderBy("doc_id")
    }),

    // Temperature-weighted domain mixing: per-source corpus stats and the
    // sqrt-temperature sampling weight w = sqrt(n_docs), normalized into a
    // share. sqrt and one division are IEEE-correctly-rounded; the weight
    // TOTAL is the one order-sensitive double sum, computed as an
    // index-ordered fold over the per-source rows sorted by source — same
    // sequence on both engines (the log-free analog of T=0.5 temperature
    // sampling; pow(x, α) for general α is libm-dependent, rejected).
    "q_llm_domain_mix" -> ((s: SparkSession, dir: String) =>
      domainMix(table(s, dir, "documents")).orderBy("source")),

    // Exactly-k uniform sample without RNG: rank by a replayable hash of
    // the key, keep the 100 smallest. Unlike rate-based sampling
    // (q_llm_curation_sample's mod filter), this guarantees the SAMPLE
    // SIZE; the plan is TakeOrderedAndProject — per-partition top-k then a
    // k-row merge, no global sort at any scale.
    "q_llm_sample_k" -> ((s: SparkSession, dir: String) =>
      sampleK(table(s, dir, "documents"), 100)
        .select(col("doc_id"), col("lang"), col("source"), col("h"))
        .orderBy("h", "doc_id")),

    // Weight-proportional exactly-k sample (sequential Poisson / Ohlsson):
    // priority = hash·2^20 div n_chars, keep the 100 smallest — longer
    // docs draw proportionally more often, the draw is deterministic
    // across engines/runs/partitionings, and the plan is the same
    // TakeOrderedAndProject top-k as q_llm_sample_k (no global sort, no
    // RNG state). The length-biased draw is the standard token-budget
    // sampler for training-mix assembly.
    "q_llm_weighted_sample" -> ((s: SparkSession, dir: String) =>
      weightedSample(table(s, dir, "documents"), 100)
        .select(col("doc_id"), col("source"), col("n_chars"), col("priority"))
        .orderBy("priority", "doc_id")),

    // Concat-and-chunk sequence packing (the LM-training data layout: all
    // docs concatenated in doc_id order, cut every 512 tokens): per doc its
    // global token offset and the chunk span it lands in (the global
    // cumsum is [[packChunks]]' weighted globalRowNumber).
    "q_llm_pack_chunks" -> ((s: SparkSession, dir: String) =>
      packChunks(table(s, dir, "documents")).orderBy("doc_id")),

    // Context-length sizing report (r10) — the padding-waste table read
    // before choosing a training context length: for each candidate ctx,
    // per-doc padding (every doc rounded up to whole chunks — the
    // no-packing layout) vs concat packing (q_llm_pack_chunks' layout,
    // whose waste is at most one chunk total). Pure integer arithmetic on
    // one scan's token counts; the waste ratio is ONE shared formula
    // string. The 4-candidate explode multiplies rows 4× BEFORE a
    // map-side-combinable agg to 4 rows — CPU-only fan-out, no shuffle
    // growth.
    "q_llm_packing_efficiency" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "documents")
        .select(asLong(expr(
          "size(filter(split(text, ' '), t -> length(t) > 0))")).as("t"))
        .where(col("t") > 0)
        .select(explode(expr("array(256, 512, 1024, 2048)")).as("ctx"),
          col("t"))
        .groupBy("ctx")
        .agg(asLong(count(lit(1))).as("n_docs"),
          asLong(sum("t")).as("total_tokens"),
          asLong(sum(expr("(t + ctx - 1) div ctx"))).as("pad_chunks"))
        .select(asLong(col("ctx")).as("ctx"), col("n_docs"),
          col("total_tokens"), col("pad_chunks"))
        .selectExpr("ctx", "n_docs", "total_tokens", "pad_chunks",
          "(total_tokens + ctx - 1) div ctx AS concat_chunks",
          packWasteFormula)
        .orderBy("ctx")),

    // Embedding L2-normalization + int8 scalar quantization — the storage
    // layout an ANN-serving pipeline actually ships (×4 smaller than
    // float32). The norm is the index-ordered IEEE fold of squares (the
    // replayable-cosine discipline), each quantized component one fixed
    // sequence of correctly-rounded ops (x/norm → ×127 → +0.5 → floor), and
    // the reported projections (sum, L1, min, max of the int8 vector) are
    // exact BIGINT — so the whole compression step hash-gates. A zero
    // vector quantizes to zeros.
    "q_llm_emb_quantize" -> ((s: SparkSession, dir: String) =>
      quantizeEmbeddings(table(s, dir, "embeddings")).orderBy("vec_id")),

    // Corpus boilerplate detection: 5-gram shingles shared by ≥ BoilerDf
    // docs are boilerplate; per doc, its distinct-shingle count, how many of
    // those are boilerplate, and the ratio — the C4-style "remove repeated
    // spans" signal at document granularity. Two hash aggs + one equi-join
    // on the shingle; the same shingle definition as the dup-cluster
    // pipeline (graft.functions.ShingleGenerator, docs shorter than 5
    // tokens emit none).
    "q_text_boilerplate" -> ((s: SparkSession, dir: String) =>
      boilerplateCoverage(s, table(s, dir, "documents")).orderBy("doc_id")),

    // Sliding-window chunking with overlap (64-token windows every 48
    // tokens): per chunk its start offset and clipped length — the
    // RAG/long-context layout where pack_chunks is the disjoint one. Pure
    // scan-side integer math (`sequence` + `explode`), zero shuffle before
    // the output sort; empty docs emit no chunks (guarded identically in
    // the oracle).
    "q_llm_chunk_overlap" -> ((s: SparkSession, dir: String) =>
      chunkOverlap(table(s, dir, "documents"))
        .orderBy("doc_id", "chunk_id")),

    // Exactly-k-per-stratum deterministic sample (k=5 per source): the
    // stratified counterpart of q_llm_sample_k, same replayable hash
    // family. The rank-≤-k filter after row_number triggers Spark's
    // WindowGroupLimit: each input partition pre-truncates to its own
    // top-5 per source BEFORE the shuffle, so the exchange carries
    // O(k · #sources · #partitions) rows, never the corpus.
    "q_llm_stratified_sample" -> ((s: SparkSession, dir: String) =>
      stratifiedSample(table(s, dir, "documents"))
        .orderBy("source", "rn")),

    // Dataset snapshot diff (added / removed / changed / unchanged per
    // doc): v2 is derived deterministically from v1 by the salt-8
    // replayable hash (bucket <10 dropped, 10–19 text-amended, ≥95 also
    // cloned under a negative clone id), so both engines construct the
    // SAME synthetic second snapshot. One corpus-keyed full outer join
    // carrying per-side sha256 digests, never raw text — the
    // dataset-versioning audit a curation run reports.
    "q_llm_dataset_diff" -> ((s: SparkSession, dir: String) => {
      val docs = table(s, dir, "documents")
      datasetDiff(docs, snapshotV2(docs)).orderBy("doc_id")
    }),

    // Token-budget apportionment: split a 1M-token sampling budget across
    // sources proportionally to their token mass with largest-remainder
    // (Hamilton) rounding — allocations are integers summing to EXACTLY
    // the budget, each within 1 of its exact proportional share, and every
    // step is replayable integer math (the budget×tokens products run in
    // DECIMAL(38,0)/HUGEINT so no engine overflows at any corpus size).
    // One corpus scan; the remainder-rank window sees #sources rows.
    "q_llm_token_budget" -> ((s: SparkSession, dir: String) =>
      tokenBudget(table(s, dir, "documents")).orderBy("source")),

    // Temperature-scaled mixing allocation (r11b) — the α = 0.5 sampling
    // reweight of multilingual/multi-source training mixes (w_i ∝ n_i^α:
    // upsample small sources, downsample huge ones; α = 0.5 because
    // sqrt is IEEE-correctly-rounded in BOTH engines, so this is the one
    // temperature whose weights replay bit-exactly — a 0.3/0.7 power
    // would be libm-dependent, rejected). Largest-remainder allocation
    // over the DOUBLE quotas: the weight total accumulates via an
    // ORDERED cumulative window (source asc — FP addition order is part
    // of the replay contract, the bm25 pivot rule in window form), every
    // quota/remainder is the same two-op double expression in both
    // engines, and Σ alloc = budget exactly. All windows run over the
    // per-source aggregate (≤ #sources rows), never corpus rows.
    "q_llm_mix_alpha" -> ((s: SparkSession, dir: String) => {
      val withW = table(s, dir, "documents")
        .withColumn("n_tok",
          asLong(expr("size(filter(split(text, ' '), t -> length(t) > 0))")))
        .groupBy("source").agg(asLong(sum(col("n_tok"))).as("n_tokens"))
        .withColumn("w", sqrt(col("n_tokens").cast("double")))
        .withColumn("cw", sum("w").over(Window.orderBy("source")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = withW.agg(max("cw").as("wtot"))
      val based = withW.crossJoin(broadcast(tot))
        .withColumn("quota",
          lit(TokenBudget.toDouble) * col("w") / col("wtot"))
        .withColumn("base", expr("CAST(floor(quota) AS BIGINT)"))
        .withColumn("rem", expr("quota - CAST(base AS DOUBLE)"))
      val leftover = based.agg((lit(TokenBudget) - sum("base")).as("leftover"))
      based.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("rem"), asc("source"))))
        .select(col("source"), col("n_tokens"), col("w").as("weight"),
          (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("alloc_tokens"))
        .orderBy("source")
    })
  )

  /** Largest-remainder token-budget allocation — the q_llm_token_budget
    * primitive. Returns (source, n_tokens, alloc_tokens) with
    * Σ alloc_tokens = budget exactly. */
  private[graft] def tokenBudget(docs: DataFrame,
      budget: Long = TokenBudget): DataFrame = {
    val perSrc = docs
      .withColumn("n_tok",
        asLong(expr("size(filter(split(text, ' '), t -> length(t) > 0))")))
      .groupBy("source").agg(asLong(sum(col("n_tok"))).as("n_tokens"))
    val tot = perSrc.agg(asLong(sum(col("n_tokens"))).as("total"))
    val based = perSrc.crossJoin(broadcast(tot))
      .withColumn("base", expr(
        s"CAST((CAST($budget AS DECIMAL(38,0)) * n_tokens)" +
          " div CAST(total AS DECIMAL(38,0)) AS BIGINT)"))
      .withColumn("rem", expr(
        s"CAST($budget AS DECIMAL(38,0)) * n_tokens" +
          " - CAST(base AS DECIMAL(38,0)) * total"))
    val leftover = based.agg((lit(budget) - sum(col("base"))).as("leftover"))
    based.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("rem"), asc("source"))))
      .select(col("source"), col("n_tokens"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc_tokens"))
  }

  /** Sliding-window chunk spans — the q_llm_chunk_overlap primitive.
    * Returns (doc_id, n_tokens, chunk_id, start, chunk_len); docs with no
    * tokens emit no chunks. */
  private[graft] def chunkOverlap(docs: DataFrame, win: Long = ChunkWin,
      stride: Long = ChunkStride): DataFrame =
    docs
      .withColumn("n_tokens",
        asLong(expr("size(filter(split(text, ' '), t -> length(t) > 0))")))
      .where(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_tokens") - 1, lit(stride)))
          .as("start"))
      .select(col("doc_id"), col("n_tokens"),
        asLong(expr(s"start div $stride")).as("chunk_id"),
        col("start"),
        least(lit(win), col("n_tokens") - col("start")).as("chunk_len"))

  /** Exactly-k-per-stratum deterministic sample — the
    * q_llm_stratified_sample primitive. Returns (source, rn, doc_id, h). */
  private[graft] def stratifiedSample(docs: DataFrame, k: Int = 5): DataFrame =
    docs
      .withColumn("h", expr(sampleHashSql))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("h", "doc_id")))
      .where(col("rn") <= k)
      .select(col("source"), asLong(col("rn")).as("rn"),
        col("doc_id"), col("h"))

  /** Snapshot diff of two (doc_id, text) frames — the q_llm_dataset_diff
    * primitive. Returns (doc_id, status) with status in
    * added/removed/changed/unchanged. One corpus-keyed full outer join whose
    * exchange carries (doc_id, sha256) per side — digest discipline: the
    * changed-detection compares 32-byte digests, so raw document text never
    * crosses the shuffle (at 100 TB the diff exchange would otherwise ship
    * the whole corpus text twice). */
  private[graft] def datasetDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), sha2(col("text"), 256).as("d1"),
      lit(1).as("p1"))
    val b = v2.select(col("doc_id"), sha2(col("text"), 256).as("d2"),
      lit(1).as("p2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("p1").isNull, "added")
          .when(col("p2").isNull, "removed")
          .when(col("d1") =!= col("d2"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** The synthetic v2 snapshot behind q_llm_dataset_diff (diff-hash bucket:
    * <10 removed, 10–19 changed, ≥95 additionally cloned as a new doc under
    * a negative clone id — see [[diffCloneId]]). */
  private[graft] def snapshotV2(docs: DataFrame): DataFrame = {
    val bucketed = docs.withColumn("_b", expr(diffBucketSql))
    val base = bucketed
      .where(col("_b") >= 10)
      .withColumn("text",
        when(col("_b") < 20, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    val added = bucketed
      .where(col("_b") >= 95)
      .withColumn("doc_id", diffCloneId(col("doc_id")))
    base.unionByName(added).drop("_b")
  }

  def oracle: Seq[(String, String)] = Seq(
    "q_llm_split_assign" ->
      s"""SELECT doc_id, lang,
         |       CAST($splitBucketSql AS BIGINT) AS bucket,
         |       CASE WHEN $splitBucketSql < 90 THEN 'train'
         |            WHEN $splitBucketSql < 95 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_llm_span_corrupt" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ts
         |  FROM documents),
         |tk AS (
         |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n,
         |         CAST(unnest(range(1, len(ts) + 1)) AS BIGINT) AS pos
         |  FROM t),
         |h AS (
         |  SELECT doc_id, n, pos,
         |         ((doc_id % ${ReplayableHash.P}) * 4099 + pos) % ${ReplayableHash.P} AS h0
         |  FROM tk),
         |st AS (
         |  SELECT doc_id, pos,
         |         least(pos + (($spanA1 * h0 + $spanB1) % ${ReplayableHash.P}) % $SpanMaxLen, n) AS send
         |  FROM h
         |  WHERE (($spanA0 * h0 + $spanB0) % ${ReplayableHash.P}) % $SpanRate = 0),
         |mm AS (
         |  SELECT DISTINCT doc_id, mpos FROM (
         |    SELECT doc_id, unnest(generate_series(pos, send)) AS mpos FROM st)),
         |i AS (
         |  SELECT doc_id, mpos,
         |         lag(mpos) OVER (PARTITION BY doc_id ORDER BY mpos) AS prev
         |  FROM mm),
         |ag AS (
         |  SELECT doc_id,
         |         CAST(count(*) AS BIGINT) AS n_masked,
         |         CAST(sum(CASE WHEN prev IS NULL OR prev <> mpos - 1
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
         |  FROM i GROUP BY doc_id),
         |nt AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT nt.doc_id, nt.n_tokens,
         |       COALESCE(ag.n_spans, 0) AS n_spans,
         |       COALESCE(ag.n_masked, 0) AS n_masked,
         |       CASE WHEN nt.n_tokens > 0
         |            THEN CAST(COALESCE(ag.n_masked, 0) AS DOUBLE) / nt.n_tokens
         |       END AS mask_rate
         |FROM nt LEFT JOIN ag USING (doc_id)
         |ORDER BY nt.doc_id""".stripMargin,

    "q_llm_domain_mix" ->
      """WITH b AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |         sqrt(CAST(count(*) AS DOUBLE)) AS w
        |  FROM documents GROUP BY source),
        |t AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list(w ORDER BY source)), (h, c) -> h + c) AS tot_w
        |  FROM b)
        |SELECT source, n_docs, sum_chars, w, w / tot_w AS share
        |FROM b CROSS JOIN t ORDER BY source""".stripMargin,

    "q_llm_sample_k" ->
      s"""SELECT doc_id, lang, source,
         |       ($sampleA * (doc_id % ${ReplayableHash.P}) + $sampleB) % ${ReplayableHash.P} AS h
         |FROM documents
         |ORDER BY h, doc_id LIMIT 100""".stripMargin,

    "q_llm_weighted_sample" ->
      s"""SELECT doc_id, source, n_chars,
         |       (($wsampleHashSql) * $WsampleScale) // greatest(n_chars, 1) AS priority
         |FROM documents
         |ORDER BY priority, doc_id LIMIT 100""".stripMargin,

    "q_llm_emb_quantize" -> {
      def fold(terms: String, init: String) =
        s"list_reduce(list_prepend($init, $terms), (a, b) -> a + b)"
      val normSql = s"sqrt(${fold(
        "list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i])",
        "CAST(0 AS DOUBLE)")})"
      s"""WITH e AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |n AS (SELECT vec_id, label, emb, $normSql AS norm FROM e),
         |q AS (
         |  SELECT vec_id, label, norm,
         |         CASE WHEN norm = 0
         |           THEN list_transform(emb, x -> CAST(0 AS BIGINT))
         |           ELSE list_transform(emb,
         |                  x -> CAST(floor(x / norm * 127.0 + 0.5) AS BIGINT))
         |         END AS qv
         |  FROM n)
         |SELECT vec_id, label, norm,
         |       ${fold("qv", "CAST(0 AS BIGINT)")} AS q_sum,
         |       ${fold("list_transform(qv, v -> abs(v))", "CAST(0 AS BIGINT)")} AS q_l1,
         |       list_aggregate(qv, 'min') AS q_min,
         |       list_aggregate(qv, 'max') AS q_max
         |FROM q ORDER BY vec_id""".stripMargin
    },

    "q_llm_pack_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT) AS start_off
         |  FROM t)
         |SELECT doc_id, n_tokens, start_off,
         |       start_off // $ChunkTokens AS chunk_first,
         |       (start_off + n_tokens - 1) // $ChunkTokens AS chunk_last,
         |       (start_off + n_tokens - 1) // $ChunkTokens
         |         - start_off // $ChunkTokens + 1 AS n_chunks
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_llm_packing_efficiency" ->
      s"""WITH tk AS (
         |  SELECT CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS t
         |  FROM documents),
         |e AS (
         |  SELECT ctx, t FROM (SELECT t FROM tk WHERE t > 0)
         |  CROSS JOIN (SELECT CAST(unnest([256, 512, 1024, 2048]) AS BIGINT) AS ctx)),
         |a AS (
         |  SELECT ctx, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(t) AS BIGINT) AS total_tokens,
         |         CAST(sum((t + ctx - 1) // ctx) AS BIGINT) AS pad_chunks
         |  FROM e GROUP BY ctx)
         |SELECT ctx, n_docs, total_tokens, pad_chunks,
         |       (total_tokens + ctx - 1) // ctx AS concat_chunks,
         |       $packWasteFormula
         |FROM a ORDER BY ctx""".stripMargin,

    "q_text_boilerplate" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS i
         |  FROM t),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |         toks[i+3] || ' ' || toks[i+4] AS shingle
         |  FROM g),
         |b AS (SELECT shingle AS bsh FROM sh GROUP BY shingle HAVING count(*) >= $BoilerDf),
         |j AS (
         |  SELECT sh.doc_id, CASE WHEN b.bsh IS NULL THEN 0 ELSE 1 END AS ib
         |  FROM sh LEFT JOIN b ON sh.shingle = b.bsh)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(sum(ib) AS BIGINT) AS n_boiler,
         |       CAST(sum(ib) AS DOUBLE) / count(*) AS boiler_ratio
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_llm_chunk_overlap" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |         unnest(generate_series(0, n_tokens - 1, $ChunkStride)) AS start
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens,
         |       CAST(start // $ChunkStride AS BIGINT) AS chunk_id,
         |       CAST(start AS BIGINT) AS start,
         |       CAST(least($ChunkWin, n_tokens - start) AS BIGINT) AS chunk_len
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q_llm_stratified_sample" ->
      s"""SELECT source, CAST(rn AS BIGINT) AS rn, doc_id, h FROM (
         |  SELECT source, doc_id, $sampleHashSql AS h,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY $sampleHashSql, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,

    "q_llm_token_budget" ->
      s"""WITH t AS (
         |  SELECT source,
         |         CAST(sum(len(list_filter(string_split(text, ' '), x -> length(x) > 0))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t),
         |b AS (
         |  SELECT source, n_tokens,
         |         CAST(($TokenBudget::HUGEINT * n_tokens) // total AS BIGINT) AS base,
         |         $TokenBudget::HUGEINT * n_tokens
         |           - (($TokenBudget::HUGEINT * n_tokens) // total) * total AS rem
         |  FROM t CROSS JOIN tot),
         |l AS (SELECT $TokenBudget - CAST(sum(base) AS BIGINT) AS leftover FROM b),
         |r AS (
         |  SELECT source, n_tokens, base,
         |         row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
         |  FROM b)
         |SELECT source, n_tokens,
         |       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
         |FROM r CROSS JOIN l ORDER BY source""".stripMargin,

    // the cumulative-window total pins FP addition order (source asc) in
    // both engines; quota/rem are the same two-op double expressions
    "q_llm_mix_alpha" ->
      s"""WITH t AS (
         |  SELECT source,
         |         CAST(sum(len(list_filter(string_split(text, ' '), x -> length(x) > 0))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |w AS MATERIALIZED (
         |  SELECT source, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS w,
         |         sum(sqrt(CAST(n_tokens AS DOUBLE)))
         |           OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
         |  FROM t),
         |tot AS (SELECT max(cw) AS wtot FROM w),
         |b AS (
         |  SELECT source, n_tokens, w,
         |         CAST($TokenBudget AS DOUBLE) * w / wtot AS quota
         |  FROM w CROSS JOIN tot),
         |b2 AS MATERIALIZED (
         |  SELECT source, n_tokens, w, quota,
         |         CAST(floor(quota) AS BIGINT) AS base,
         |         quota - CAST(CAST(floor(quota) AS BIGINT) AS DOUBLE) AS rem
         |  FROM b),
         |l AS (SELECT $TokenBudget - CAST(sum(base) AS BIGINT) AS leftover FROM b2),
         |r AS (
         |  SELECT source, n_tokens, w, base,
         |         row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
         |  FROM b2)
         |SELECT source, n_tokens, w AS weight,
         |       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
         |FROM r CROSS JOIN l ORDER BY source""".stripMargin,

    "q_llm_dataset_diff" ->
      s"""WITH b AS (
         |  SELECT doc_id, text, $diffBucketSql AS bucket FROM documents),
         |v2 AS (
         |  SELECT doc_id,
         |         sha256(CASE WHEN bucket < 20 THEN text || ' v2' ELSE text END) AS d2,
         |         1 AS p2
         |  FROM b WHERE bucket >= 10
         |  UNION ALL
         |  SELECT $diffCloneIdSql, sha256(text), 1 FROM b WHERE bucket >= 95),
         |v1 AS (SELECT doc_id, sha256(text) AS d1, 1 AS p1 FROM documents)
         |SELECT doc_id,
         |       CASE WHEN p1 IS NULL THEN 'added'
         |            WHEN p2 IS NULL THEN 'removed'
         |            WHEN d1 <> d2 THEN 'changed'
         |            ELSE 'unchanged' END AS status
         |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
         |ORDER BY doc_id""".stripMargin
  )
}
