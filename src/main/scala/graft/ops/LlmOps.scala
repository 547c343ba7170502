package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators (SURVEY §2B "LLM-pipeline extensions"):
  * dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine) and similarity search over the embedding column.
  *
  * Scale design notes (100 TB):
  *   - every pairing op goes through an LSH-style bucketing stage first, so
  *     the self-join is equi-keyed on (band, hash) / bucket and never a
  *     cross product;
  *   - mega-buckets (degenerate hash groups) are capped (`MaxBucket`) before
  *     pairing — standard LSH practice, keeps worst-case quadratic work
  *     bounded per bucket;
  *   - exact Jaccard verification runs only on LSH candidates (candidate
  *     generation → verification pipeline), never all-pairs.
  */
object LlmOps extends QueryModule {

  // MaxBucket / NumHashes / NumBands are private[graft] (not [ops]) so the
  // streaming MinHash twin (graft.streaming.StreamingNeardup) shares the
  // SAME banding constants — the AnnOps.MaxEmbBucket precedent.
  private[graft] val MaxBucket = 50

  /** q_llm_minhash_recall: probe-doc count and ground-truth depth. */
  private[ops] val MhEvalProbes = 50
  private[ops] val MhEvalK = 10
  private[graft] val NumHashes = 16
  private[graft] val NumBands  = 8 // 2 rows per band

  /** Compared-prefix cap for edit-distance verification, in CODEPOINTS
    * (substring semantics shared by both engines): bounds BOTH the
    * per-pair DP cost (O((4·EditPfx)²) worst-case in the byte unit,
    * corpus-independent) and the exchange payload (≤ 4·EditPfx bytes/row
    * — the reason a capped prefix may ride a shuffle where raw unbounded
    * text must not). The DP itself runs on UTF-8 BYTES in both engines
    * (see q_llm_editdist_neardup). Fixture docs are ≤ ~600 chars, so the
    * cap bites only on real long-document corpora — exactly where it
    * must. */
  private[graft] val EditPfx = 256

  /** Similarity floor for emitted near-dup pairs: 1 − dist/maxlen ≥ 0.8. */
  private[graft] val EditSimTau = 0.8

  /** q_llm_tf_cosine: emission floor and report cap. 0.5 is exactly
    * representable, so the threshold comparison has no strtod surface. */
  private[graft] val TfCosTau = 0.5
  private[graft] val TfCosLimit = 200

  /** Shared tf-cosine readout over exact BIGINT (dot, ss_a, ss_b) — ONE
    * formula text in both engines: sqrt is IEEE-correctly-rounded (the
    * mix_alpha rule) and the single divide-by-product is one fixed-order
    * FP op each. Integer inputs stay < 2^53 (tf² sums over a doc's
    * vocabulary — documented bound). */
  private[graft] val tfCosFormula: String =
    "CAST(dot AS DOUBLE) / (sqrt(CAST(ss_a AS DOUBLE)) * sqrt(CAST(ss_b AS DOUBLE))) AS tf_cos"

  /** q_llm_rouge1 staged readout over exact BIGINT (overlap, dl_a, dl_b):
    * precision/recall are single divisions, F1 re-reads the two NAMED
    * columns (p+r appears twice but each evaluation is the identical
    * single IEEE op on identical inputs — the pacf num2/den2 rule). */
  private[graft] val rougePFormula: String =
    "CAST(overlap AS DOUBLE) / CAST(dl_a AS DOUBLE) AS rouge_p"
  private[graft] val rougeRFormula: String =
    "CAST(overlap AS DOUBLE) / CAST(dl_b AS DOUBLE) AS rouge_r"
  private[graft] val rougeF1Formula: String =
    "CASE WHEN rouge_p + rouge_r > 0" +
      " THEN 2 * rouge_p * rouge_r / (rouge_p + rouge_r)" +
      " ELSE CAST(0 AS DOUBLE) END AS rouge_f1"

  /** Mega-bucket hygiene shared by every LSH path: keep the first `max`
    * members per bucket (deterministic by `orderCol`) rather than dropping
    * oversized buckets wholesale — every bucket stays represented (bounded
    * recall loss) while pair generation stays ≤ max² per bucket. */
  private[graft] def capBuckets(df: DataFrame, bucketCols: Seq[String],
      orderCol: String, max: Int): DataFrame =
    df.withColumn("bucket_rn", row_number().over(
        Window.partitionBy(bucketCols.map(col): _*).orderBy(orderCol)))
      .where(col("bucket_rn") <= max)
      .drop("bucket_rn")

  /** Span-level exact-dup stats for an arbitrary (doc_id, text) frame —
    * the q_llm_block_dedup primitive, exposed for [[graft.Pipelines]]:
    * disjoint `w`-token block hashes per doc (BlockHashGenerator — digests
    * leave the scan, never span text), a map-side-combinable df hash agg
    * rejoined on the hash, and per-doc duplication stats plus a replayable
    * mod-P fingerprint of the UNIQUE blocks (what survives span dedup). */
  private[graft] def blockDedupStats(s: SparkSession, docs: DataFrame,
      w: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val P = graft.functions.ReplayableHash.P
    val blocks = docs.select(col("doc_id"),
      call_function("block_hashes", col("text"), lit(w)))
    val occ = blocks.groupBy("bh").agg(count(lit(1)).as("df"))
    val st = blocks.join(occ, "bh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        asLong(sum(when(col("df") > 1, 1L).otherwise(0L))).as("n_dup_blocks"),
        asLong(sum(when(col("df") === 1,
          ((col("blk") + 1) % P) * col("bh") % P).otherwise(0L)) % P).as("uniq_fp"))
    docs.select(col("doc_id"),
        size(filter(split(col("text"), " "), t => length(t) > 0))
          .cast("long").as("n_tokens"))
      .join(st, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_dup_blocks"), lit(0L)).as("n_dup_blocks"),
        when(col("n_blocks") > 0,
          col("n_dup_blocks").cast("double") / col("n_blocks")).as("dup_ratio"),
        coalesce(col("uniq_fp"), lit(0L)).as("uniq_fp"))
  }

  /** q_llm_span_dedup window width: minimum removable span, in tokens. */
  private[graft] val SpanW = 8

  /** q_llm_span_dedup_multi sweep widths (r15, verdict item 4): the
    * RefinedWeb-style width sensitivity — removed_tokens(w) is
    * non-increasing in w (a width-2w dup window implies dup windows at
    * every contained width-w offset, so LARGER widths flag subsets), and
    * the per-width rows quantify the precision/recall trade a curation
    * run picks its minimum span length from. */
  private[graft] val SpanWidths = Seq(8, 16, 32)

  /** Span-GRANULAR exact-substring dedup report (r12 — Lee et al. 2022 at
    * full granularity, promoting the block-granular [[blockDedupStats]]):
    * SLIDING w-token window digests per doc (SlidingHashGenerator — one
    * 60-bit pairing digest per position, rolling O(n)/doc, digests only on
    * every exchange), global occurrence counts per digest, and the dup
    * positions merged gaps-and-islands into MAXIMAL removable spans — a
    * repeated span of ANY length ≥ w and ANY alignment reconstructs
    * exactly, because it contributes dup windows at every contained
    * offset. Adjacent/overlapping spans merge (pos ≤ prev + w); the
    * survivor choice (which copy to keep) is a downstream policy — this is
    * the removable-span REPORT, marking every span whose content occurs
    * ≥2× in the corpus (including within one doc).
    *
    * One row per (doc, w) for every width in `widths`, all widths planned
    * in ONE pass keyed by `w`: the generator splits and hashes each doc's
    * tokens once and folds every width, the df-count groups by (w, wh),
    * and the islands merge and report partition by (doc_id, w). The
    * single-width queries pass one width and drop `w`.
    *
    * Scale: the window relation is O(total tokens × widths) rows of 4
    * longs; the df-count is a map-side-combinable hash agg; the dup rejoin
    * is a shuffled digest join on (w, wh) (the block_dedup shape — AQE
    * skew-handles a template-heavy corpus, which a window count could
    * not); the islands merge is a per-(doc, w) fold (doc_id is
    * corpus-cardinality, never a funnel key). Against a union of
    * per-width branches, the keyed pass carries the same window bytes
    * through the exchanges, but the w ∈ {8, 16, 32} sweep plans 3
    * documents scans, 2 generator passes and 5 exchanges instead of 9, 6
    * and 13, and runs 7 Spark jobs warm instead of 15 (SCALING.md). */
  private[graft] def spanDedupReport(s: SparkSession, docs: DataFrame,
      widths: Seq[Int]): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val wins = docs.select(col("doc_id"),
      call_function("sliding_hashes", col("text") +: widths.map(lit(_)): _*))
    val occ = wins.groupBy("w", "wh").agg(count(lit(1)).as("df"))
    val dup = wins.join(occ.where(col("df") > 1), Seq("w", "wh"))
      .select("doc_id", "w", "pos")
    spanReportFromDup(docs, dup, widths)
  }

  /** The islands-merge + per-doc report tail of [[spanDedupReport]] over
    * an already-computed (doc_id, w, pos) dup-position relation, one row
    * per (doc, w) for every width in `widths` — factored (r15) so the
    * streaming span-dedup twin's read runs the IDENTICAL batch tail
    * (the twin-body rule in function form).
    *
    * The islands merge is one fold per (doc_id, w) over the sorted dup
    * positions: a position p ≤ e extends the open span [s, e) to p + w,
    * any other closes it into the count, length and fingerprint sums.
    * The list is bounded by the doc's token count. Unlike a lag +
    * running-sum window it needs no sort or window stage, and the sweep
    * generates 12 fewer classes per run (SCALING.md). */
  private[graft] def spanReportFromDup(docs: DataFrame, dup: DataFrame,
      widths: Seq[Int]): DataFrame = {
    val P = graft.functions.ReplayableHash.P
    val B = graft.functions.ReplayableHash.BlockBase
    val w = col("w")
    def span(n: Column, rm: Column, fp: Column, s: Column, e: Column) =
      struct(n.as("n"), rm.as("rm"), fp.as("fp"), s.as("s"), e.as("e"))
    def close(a: Column, s: Column, e: Column) =
      span(a("n") + 1, a("rm") + a("e") - a("s"),
        a("fp") + ((a("s") + 1) * lit(B) + a("e")) % P, s, e)
    val rep = dup.groupBy("doc_id", "w")
      .agg(array_sort(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), w, aggregate(col("ps"),
        span(lit(0L), lit(0L), lit(0L), col("ps")(0), col("ps")(0) + w),
        (a, p) => when(p <= a("e"), span(a("n"), a("rm"), a("fp"), a("s"), p + w))
          .otherwise(close(a, p, p + w)),
        a => close(a, a("s"), a("e"))).as("r"))
      .select(col("doc_id"), w, col("r.n").as("n_spans"),
        col("r.rm").as("removed_tokens"), (col("r.fp") % P).as("span_fp"))
    docs.select(col("doc_id"),
        explode(array(widths.map(x => lit(x.toLong)): _*)).as("w"),
        size(filter(split(col("text"), " "), t => length(t) > 0))
          .cast("long").as("n_tokens"))
      .join(rep, Seq("doc_id", "w"), "left")
      .select(col("doc_id"), col("w"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        (col("n_tokens") - coalesce(col("removed_tokens"), lit(0L)))
          .as("kept_tokens"),
        coalesce(col("span_fp"), lit(0L)).as("span_fp"))
  }

  /** The shared token-hash prefix of every span-dedup oracle: per-doc
    * token lists hashed on both polynomial bases. `materializeTl` — the
    * multi-width sweep reads `tl` once per width (the >1-reference
    * AS MATERIALIZED rule); the single-width chain keeps the inlined r12
    * text. */
  private def spanDedupPrefixCte(materializeTl: Boolean): String = {
    val RH = graft.functions.ReplayableHash
    val m = if (materializeTl) " MATERIALIZED" else ""
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS ts
       |  FROM documents),
       |tl AS$m (
       |  SELECT doc_id,
       |         list_transform(ts, t -> ${RH.tokenHashSql("t")}) AS t1,
       |         list_transform(ts, t -> ${RH.tokenHashSql("t", RH.Base2)}) AS t2
       |  FROM toks)""".stripMargin
  }

  /** Width-parameterized span-dedup CTE chain (win→whr→occ→dup→brk→grp→
    * spans→rep, names suffixed with `sfx`) over the shared `tl` relation —
    * ONE builder behind the single-width oracles (sfx = "", text as in
    * r12) and the r15 multi-width sweep (sfx = the width). */
  private def spanDedupWidthCtes(W: Int, sfx: String): String = {
    val RH = graft.functions.ReplayableHash
    s"""win$sfx AS (
       |  SELECT doc_id, unnest(range(0, length(t1) - $W + 1)) AS pos, t1, t2
       |  FROM tl),
       |whr$sfx AS MATERIALIZED (
       |  SELECT doc_id, pos,
       |         ${RH.blockFoldSql(s"t1[CAST(pos + 1 AS INT):CAST(pos + $W AS INT)]")} * ${RH.P}
       |         + ${RH.blockFoldSql(s"t2[CAST(pos + 1 AS INT):CAST(pos + $W AS INT)]", RH.BlockBase2)} AS wh
       |  FROM win$sfx),
       |occ$sfx AS (SELECT wh AS h, count(*) AS df FROM whr$sfx GROUP BY wh),
       |dup$sfx AS (
       |  SELECT w.doc_id, w.pos FROM whr$sfx w JOIN occ$sfx o ON o.h = w.wh
       |  WHERE o.df > 1),
       |brk$sfx AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |                   OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $W
       |              THEN 1 ELSE 0 END AS b
       |  FROM dup$sfx),
       |grp$sfx AS (
       |  SELECT doc_id, pos,
       |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
       |                      ROWS UNBOUNDED PRECEDING) AS g
       |  FROM brk$sfx),
       |spans$sfx AS (
       |  SELECT doc_id, g, min(pos) AS s, max(pos) + $W AS e
       |  FROM grp$sfx GROUP BY doc_id, g),
       |rep$sfx AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |         CAST(sum(e - s) AS BIGINT) AS removed_tokens,
       |         CAST(sum(((s + 1) * ${RH.BlockBase} + e) % ${RH.P}) % ${RH.P} AS BIGINT) AS span_fp
       |  FROM spans$sfx GROUP BY doc_id)""".stripMargin
  }

  private val spanDedupNtCte: String =
    s"""nt AS (
       |  SELECT doc_id,
       |         CAST(length(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS BIGINT) AS n_tokens
       |  FROM documents)""".stripMargin

  /** The q_llm_span_dedup oracle CTE chain (ends with `rep` + `nt`) —
    * ONE builder shared by the per-doc report and the per-source rollup
    * oracles (r12 twin-fragment discipline). */
  private[ops] lazy val spanDedupCte: String =
    spanDedupPrefixCte(materializeTl = false) + ",\n" +
      spanDedupWidthCtes(SpanW, "") + ",\n" + spanDedupNtCte

  /** The q_llm_span_dedup_multi oracle chain: shared materialized `tl`,
    * one width-suffixed chain per sweep width, per-width reps unioned
    * under a BIGINT `w` tag. Ends with `nt` + `repw`. */
  private[ops] lazy val spanDedupMultiCte: String = {
    val widths = SpanWidths.map(w => spanDedupWidthCtes(w, w.toString))
      .mkString(",\n")
    val union = SpanWidths
      .map(w => s"SELECT CAST($w AS BIGINT) AS w, * FROM rep$w")
      .mkString("\n  UNION ALL ")
    spanDedupPrefixCte(materializeTl = true) + ",\n" + widths + ",\n" +
      spanDedupNtCte + ",\n" + s"repw AS (\n  $union)"
  }

  /** distinct (doc_id, token) pairs. */
  private[graft] def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
      .distinct()

  /** MinHash signatures via the one-pass typed aggregate
    * (graft.functions.MinHashAgg): a single K-long array buffer per group
    * instead of K separate min() buffers — one shuffle payload, one pass. */
  private[graft] def minhashSigs(toks: DataFrame): DataFrame = {
    val sketch = udaf(new graft.functions.MinHashAgg(NumHashes))
    toks.groupBy("doc_id").agg(sketch(col("token")).as("sig"))
  }

  /** (doc_id, band, bh) LSH bucket rows, mega-buckets capped at `maxBucket`.
    * `maxBucket = Int.MaxValue` disables the cap (LlmSpec measures raw LSH
    * recall against exact Jaccard without the production hygiene).
    *
    * The band key is the injective pairing `sig_even * P + sig_odd`
    * (both sigs < P, so the product stays < 2^63) — collision-free within a
    * band and, unlike the previous xxhash64 combine, exactly replayable in
    * the DuckDB oracle (graft.functions.ReplayableHash.lshBandsCte). */
  private[graft] def lshBuckets(sigs: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        (element_at(col("sig"), 2 * b + 1) * lit(graft.functions.ReplayableHash.P)
          + element_at(col("sig"), 2 * b + 2)).as("bh"))
    }
    val bands = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    if (maxBucket == Int.MaxValue) bands
    else capBuckets(bands, Seq("band", "bh"), "doc_id", maxBucket)
  }

  /** `bits`-wide SimHash per doc over the distinct-token set. The one-pass
    * [[graft.functions.SimHashAgg]] typed aggregate hashes each token once
    * (ReplayableHash polynomial base hash) and folds all per-bit ±1 vote
    * sums in a single primitive-array buffer — one shuffle payload per
    * group instead of `bits` separate sum columns (same shape win as
    * MinHashAgg; measurably faster at bits = 64), and since round 4 the
    * fingerprints replay bit-identically in the DuckDB oracle. */
  private[graft] def simhashSigs(docs: DataFrame, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 64)
    val agg = udaf(new graft.functions.SimHashAgg(bits))
    docTokens(docs)
      .groupBy("doc_id")
      .agg(agg(col("token")).as("simhash"))
  }

  /** Candidate near-dup pairs: docs sharing >= 1 LSH band. */
  private[graft] def candidatePairs(docs: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame =
    candidatePairsFromToks(docTokens(docs), maxBucket)

  /** Session-lifetime memo of the MinHash candidate index per corpus
    * content digest — the same index-reuse rationale as [[centroidsFor]]
    * and CurationOps.dupClustersFor: the tokens→sigs→bands→pairs pipeline
    * is one corpus-level build that every downstream near-dup query
    * (candidate listing, signature-agreement estimation, exact Jaccard
    * verification) consumes; rebuilding it per query would misstate query
    * cost as index-build cost. Each layer is localCheckpoint'd, so
    * consumers read materialized partitions, not lineage. Returns
    * (toks, sigs, candidate pairs at the default cap).
    *
    * Session-lifetime memo of the SimHash signature index per (corpus
    * content, bits) — the same one-built-index rationale as
    * candidateIndexFor: both simhash queries (and every probe rep) read
    * the fingerprint relation a production dedup pipeline maintains,
    * instead of re-hashing every token per query. */
  private[graft] def simhashSigsFor(s: SparkSession, dir: String,
      bits: Int): DataFrame =
    IndexCache(s, s"simhashSigs/bits=$bits", SourceSinkOps.fixtureKey(dir, "documents.parquet")) {
      simhashSigs(table(s, dir, "documents"), bits).localCheckpoint(true)
    }

  private[graft] def candidateIndexFor(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) =
    IndexCache(s, "candidateIndex", SourceSinkOps.fixtureKey(dir, "documents.parquet")) {
      val toks = docTokens(table(s, dir, "documents")).localCheckpoint(true)
      val sigs = minhashSigs(toks).localCheckpoint(true)
      val cands = candidatePairsFromSigs(sigs, MaxBucket)
        .localCheckpoint(true)
      (toks, sigs, cands)
    }

  /** As [[candidatePairs]] but over an already-computed (doc_id, token)
    * frame — lets callers that also need the token sets (the Jaccard
    * verification stage) materialize the explode+distinct ONCE and feed
    * both branches, instead of Spark recomputing the subplan per branch.
    *
    * Shape note (measured, r5): the in-bucket pair generation that won 5×
    * on q_llm_simhash_neardup (groupBy → sorted member array → HOF
    * combinations) was tried here and LOST (0.76 → 1.2 s at sf0.1): the
    * LSH bucket histogram is many SMALL buckets, where the per-group
    * array+explode overhead dominates, and the band self-join is cheap
    * because both sides reuse one exchange (`ReusedExchange` — the
    * tokens→sigs→bands pipeline is NOT computed twice). Kept the self-join. */
  private[graft] def candidatePairsFromToks(toks: DataFrame,
      maxBucket: Int): DataFrame =
    candidatePairsFromSigs(minhashSigs(toks), maxBucket)

  /** As [[candidatePairsFromToks]] but over already-computed signatures
    * (the memoized candidate index feeds this). */
  private[graft] def candidatePairsFromSigs(sigs: DataFrame,
      maxBucket: Int): DataFrame = {
    val buckets = lshBuckets(sigs, maxBucket)
    val a = buckets.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
    val b = buckets.select(col("band"), col("bh"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "bh"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  def queries: Seq[(String, Q)] = Seq(
    // Exact dedup on content hash, keep lowest doc_id per hash group.
    "q_llm_exact_dedup" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "documents")
        .groupBy(sha2(col("text"), 256).as("text_sha"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")),

    // Duplication-vs-language χ² audit (r12): is exact duplication
    // INDEPENDENT of language, or does one lang's scrape pipeline leak
    // dups? Per-doc dup flag (its sha256 family has >1 member — the
    // exact_dedup relation read per doc), lang × flag contingency, and
    // each language's χ² contribution through STAGED single-division
    // formulas (expected counts from exact BIGINT products). NO
    // cross-language float total is emitted: a windowed or grouped sum
    // of the double contributions would be FP-order-dependent (the
    // anova segment-tree lesson) — the per-lang contributions ARE the
    // readout ("which language drives the dependence"), and the spec
    // totals them driver-side against the critical value. Cells are
    // lang-bounded; the sha relation is corpus-sized but its join key
    // is the 64-char digest, never raw text.
    "q_llm_dup_lang_chi2" -> ((s: SparkSession, dir: String) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), sha2(col("text"), 256).as("sha"))
      val fam = docs.groupBy("sha").agg(count(lit(1)).as("nc"))
      val flagged = docs.join(fam, "sha")
        .select(col("lang"),
          when(col("nc") > 1, 1L).otherwise(0L).as("dup"))
      val byLang = flagged.groupBy("lang")
        .agg(asLong(count(lit(1))).as("n_docs"),
          asLong(sum(col("dup"))).as("n_dup"))
      val tot = byLang.agg(asLong(sum("n_docs")).as("tot_n"),
        asLong(sum("n_dup")).as("tot_dup"))
      byLang.crossJoin(broadcast(tot))
        .selectExpr("lang", "n_docs", "n_dup", "tot_n", "tot_dup",
          "CAST(n_dup AS DOUBLE) / n_docs AS dup_rate",
          "CAST(n_docs * tot_dup AS DOUBLE) / tot_n AS e_dup",
          "CAST(n_docs * (tot_n - tot_dup) AS DOUBLE) / tot_n AS e_keep")
        .selectExpr("lang", "n_docs", "n_dup", "dup_rate", "e_dup", "e_keep",
          "CAST(n_dup AS DOUBLE) - e_dup AS d1",
          "CAST(n_docs - n_dup AS DOUBLE) - e_keep AS d2")
        .selectExpr("lang", "n_docs", "n_dup", "dup_rate", "e_dup",
          "CASE WHEN e_dup > CAST(0 AS DOUBLE) AND e_keep > CAST(0 AS DOUBLE)" +
            " THEN d1 * d1 / e_dup + d2 * d2 / e_keep" +
            " ELSE CAST(0 AS DOUBLE) END AS chi2_lang")
        .orderBy("lang")
    }),

    // Span-level exact dedup stats (the "duplicated training-data spans"
    // operator of corpus curation — Lee et al. 2022's substring dedup,
    // block-granular and sized to this corpus's short docs): disjoint
    // 8-token block hashes per doc (BlockHashGenerator — digests leave
    // the scan, never span text), global occurrence counts per hash, and
    // per-doc duplication stats plus a replayable mod-P fingerprint of
    // the UNIQUE blocks (what survives span dedup). Every exchange
    // carries (doc_id, blk, bh) integers only; the df-count is a
    // map-side-combinable hash agg rejoined on the hash (never a
    // count-over-window); all arithmetic stays < 2^63 so the DuckDB twin
    // replays it bit-for-bit.
    "q_llm_block_dedup" -> ((s: SparkSession, dir: String) =>
      blockDedupStats(s, table(s, dir, "documents")).orderBy("doc_id")),

    // Span-GRANULAR exact-substring dedup (r12): sliding 8-token window
    // digests → global df counts → dup positions merged gaps-and-islands
    // into MAXIMAL removable spans, per-doc report (see spanDedupReport —
    // the Lee et al. 2022 full-granularity promotion of the
    // block-granular key above).
    "q_llm_span_dedup" -> ((s: SparkSession, dir: String) =>
      spanDedupReport(s, table(s, dir, "documents"), Seq(SpanW)).drop("w")
        .orderBy("doc_id")),

    // Multi-width span-dedup sweep (r15): the same sliding-digest
    // machinery at w ∈ {8, 16, 32} in one pass keyed by w, one row per
    // (doc, width) — the variable-length decontamination sensitivity
    // curve (removed_tokens non-increasing in w by the containment
    // argument; see SpanWidths).
    "q_llm_span_dedup_multi" -> ((s: SparkSession, dir: String) =>
      spanDedupReport(s, table(s, dir, "documents"), SpanWidths)
        .orderBy("doc_id", "w")),

    // Per-source span-dedup burden (r12) — dup_rate_by_source at span
    // granularity: which provenance carries the repeated-span weight.
    // One doc_id-keyed join of the per-doc report onto (doc_id, source)
    // (O(#docs) shuffled join — never broadcast), then a hash agg to
    // ≤ #sources rows.
    "q_llm_span_dedup_by_source" -> ((s: SparkSession, dir: String) => {
      val docs = table(s, dir, "documents")
      spanDedupReport(s, docs, Seq(SpanW)).drop("w")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(asLong(count(lit(1))).as("n_docs"),
          asLong(sum(when(col("n_spans") > 0, 1L).otherwise(0L)))
            .as("docs_with_spans"),
          asLong(sum(col("n_tokens"))).as("total_tokens"),
          asLong(sum(col("removed_tokens"))).as("removed_tokens"))
        .select(col("source"), col("n_docs"), col("docs_with_spans"),
          col("total_tokens"), col("removed_tokens"),
          when(col("total_tokens") > 0,
            col("removed_tokens").cast("double")
              / col("total_tokens").cast("double")).as("removal_rate"))
        .orderBy("source")
    }),

    // Dedup-method agreement matrix (r12) — the meta-quality audit a
    // curation pipeline reads before PICKING a dedup method: per method
    // pair (exact sha / MinHash-LSH candidate stage, uncapped band
    // collisions / SimHash 16-bit blocking stage), the flagged-doc
    // counts, overlap, and Jaccard agreement. Scale: each flag relation
    // is a count-shaped pipeline (bucket hash agg -> dup-bucket rejoin,
    // never pairing); the three flag sets collapse to a per-doc bitmask
    // and then to a ≤8-row mask histogram — the pair matrix is literal
    // arithmetic over that tiny relation (3-row broadcast cross). The
    // MinHash sigs ride the session-memoized candidate index.
    "q_llm_dedup_agreement" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
      val sha = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      val exDup = sha.join(
          sha.groupBy("h").agg(count(lit(1)).as("c")).where(col("c") > 1), "h")
        .select("doc_id")
      val (_, sigs, _) = candidateIndexFor(s, dir)
      val bands = lshBuckets(sigs, Int.MaxValue)
      val mhDup = bands.join(
          bands.groupBy("band", "bh").agg(count(lit(1)).as("c"))
            .where(col("c") > 1), Seq("band", "bh"))
        .select("doc_id").distinct()
      val shSigs = simhashSigsFor(s, dir, 64)
      val sbandCols = (0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), 16 * b)
            .bitwiseAND(lit(0xFFFFL)).as("bv"))
      }
      val sbands = shSigs
        .select(col("doc_id"), explode(array(sbandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bv").as("bv"))
      val shDup = sbands.join(
          sbands.groupBy("band", "bv").agg(count(lit(1)).as("c"))
            .where(col("c") > 1), Seq("band", "bv"))
        .select("doc_id").distinct()
      val flags = exDup.withColumn("bit", lit(1L))
        .union(mhDup.withColumn("bit", lit(2L)))
        .union(shDup.withColumn("bit", lit(4L)))
      val hist = docs.select("doc_id").join(flags, Seq("doc_id"), "left")
        .groupBy("doc_id").agg(coalesce(sum("bit"), lit(0L)).as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("c"))
      val pairDefs = Seq(
        ("exact", 1L, "minhash", 2L), ("exact", 1L, "simhash", 4L),
        ("minhash", 2L, "simhash", 4L))
        .toDF("method_a", "bit_a", "method_b", "bit_b")
      hist.crossJoin(broadcast(pairDefs))
        .groupBy("method_a", "method_b")
        .agg(
          asLong(sum(when(col("mask").bitwiseAND(col("bit_a")) > 0, col("c"))
            .otherwise(0L))).as("n_a"),
          asLong(sum(when(col("mask").bitwiseAND(col("bit_b")) > 0, col("c"))
            .otherwise(0L))).as("n_b"),
          asLong(sum(when(col("mask").bitwiseAND(col("bit_a")) > 0
              && col("mask").bitwiseAND(col("bit_b")) > 0, col("c"))
            .otherwise(0L))).as("n_both"))
        .select(col("method_a"), col("method_b"), col("n_a"), col("n_b"),
          col("n_both"),
          when(col("n_a") + col("n_b") - col("n_both") > 0,
            col("n_both").cast("double")
              / (col("n_a") + col("n_b") - col("n_both"))).as("jaccard"))
        .orderBy("method_a", "method_b")
    }),

    "q_llm_text_stats" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          asLong(sum(col("n_tokens"))).as("sum_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang")),

    // MinHash-LSH EVALUATION harness (r11b) — recall of the capped banded
    // LSH candidate set against the exact token-set-Jaccard top-10, over
    // the first 50 docs as probes: the q_llm_ann_recall analog for the
    // Jaccard family (LlmSpec's uncapped recall pins, promoted to a
    // declared per-probe report that quantifies what the production caps
    // cost). Ground truth joins the probe tokens BROADCAST (≤ 50 docs of
    // tokens — never a corpus token-string shuffle), so the whole exact
    // pass is one scan of the memoized token index fanned ×probes; the
    // Jaccard is ONE exact-int division and ranks tie-break by doc_id.
    // Output keeps probes with ≥ 1 positive-Jaccard neighbor (declared —
    // every doc shares common tokens on any real corpus).
    "q_llm_minhash_recall" -> ((s: SparkSession, dir: String) => {
      val (toks, _, cands) = candidateIndexFor(s, dir)
      val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      val probeToks = toks.where(col("doc_id") < MhEvalProbes)
        .select(col("doc_id").as("probe_id"), col("token"))
      val inter = toks.join(broadcast(probeToks), "token")
        .where(col("doc_id") =!= col("probe_id"))
        .groupBy("probe_id", "doc_id").agg(count(lit(1)).as("inter"))
      val scored = inter
        .join(sz, "doc_id")
        .join(broadcast(sz.where(col("doc_id") < MhEvalProbes)
          .select(col("doc_id").as("probe_id"), col("n_tok").as("np"))),
          "probe_id")
        .withColumn("jac", col("inter").cast("double")
          / (col("np") + col("n_tok") - col("inter")))
      // r15 (optimization): exact (≤ probes·k rows) and cand (probe-bounded)
      // are each read twice below — unmaterialized, the corpus-scaled
      // `inter` join + per-probe rank window re-ran per reference. The
      // eager checkpoints are constant-bounded frames.
      val exact = scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("probe_id").orderBy(desc("jac"), asc("doc_id"))))
        .where(col("rn") <= MhEvalK)
        .select("probe_id", "doc_id")
        .localCheckpoint(true)
      val cand = cands.select(col("doc_a").as("probe_id"), col("doc_b").as("doc_id"))
        .union(cands.select(col("doc_b").as("probe_id"), col("doc_a").as("doc_id")))
        .where(col("probe_id") < MhEvalProbes)
        .localCheckpoint(true)
      val hits = exact.join(cand, Seq("probe_id", "doc_id"), "left_semi")
        .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
      val ncand = cand.groupBy("probe_id").agg(count(lit(1)).as("n_cand"))
      exact.groupBy("probe_id").agg(asLong(count(lit(1))).as("n_exact"))
        .join(broadcast(ncand), Seq("probe_id"), "left")
        .join(broadcast(hits), Seq("probe_id"), "left")
        .select(col("probe_id"),
          col("n_exact"),
          asLong(coalesce(col("n_cand"), lit(0L))).as("n_cand"),
          asLong(coalesce(col("n_hits"), lit(0L))).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_exact"))
            .as("recall"))
        .orderBy("probe_id")
    }),

    // MinHash-LSH near-dup candidate pairs. Fully oracled since round 4
    // (ReplayableHash family); LlmSpec additionally checks candidate
    // quality against exact Jaccard — a property the hash gate can't see.
    "q_llm_minhash" -> ((s: SparkSession, dir: String) =>
      candidateIndexFor(s, dir)._3
        .orderBy(desc("n_shared_bands"), asc("doc_a"), asc("doc_b"))
        .limit(500)),

    // Signature-agreement Jaccard ESTIMATION over the LSH candidates — the
    // classic use of the MinHash sketch: Pr[sig_k(A)=sig_k(B)] = J(A,B),
    // so the agreeing-position fraction estimates Jaccard without touching
    // token sets (O(K) per pair instead of O(|A|+|B|) — at 100 TB this is
    // the cheap filter BEFORE exact verification). n_agree is an exact
    // integer; the estimate is one IEEE division. LlmSpec pins estimator
    // quality (exact-dup pairs estimate 1.0, MAE vs exact Jaccard).
    "q_llm_minhash_est" -> ((s: SparkSession, dir: String) => {
      val (_, sigs, cands) = candidateIndexFor(s, dir)
      cands
        .where(col("n_shared_bands") >= 2)
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .withColumn("n_agree", expr(
          "CAST(size(filter(zip_with(sig_a, sig_b, (a, b) -> a = b), x -> x)) AS BIGINT)"))
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"), col("n_agree"),
          (col("n_agree").cast("double") / lit(NumHashes)).as("jaccard_est"))
        .orderBy("doc_a", "doc_b")
    }),

    // Edit-distance (Levenshtein) verification over the LSH candidates —
    // the character-level near-dup check that catches small in-place edits
    // n-gram Jaccard smears (a one-word change flips up to n shingles).
    // Never all-pairs: candidates come from the memoized MinHash index
    // (≥2 shared bands), and the DP runs on EditPfx-capped prefixes so
    // per-pair cost AND shuffle payload are corpus-independent constants.
    // The prefix column is the bounded exception to the text-shuffle
    // discipline (≤ 4·EditPfx bytes/row, doc'd at [[EditPfx]]).
    // DP unit: BYTES, explicitly — DuckDB's levenshtein is byte-based
    // while Spark's is codepoint-based, so the engine runs its DP over a
    // Latin-1 byte proxy (decode(encode(pfx,'UTF-8'),'ISO-8859-1') maps
    // each UTF-8 byte to one codepoint), making both engines compute the
    // identical byte-level DP on ANY text, non-ASCII included (on ASCII
    // the two units coincide). Byte distance is the encoding-stable unit
    // large-scale dedup uses anyway.
    "q_llm_editdist_neardup" -> ((s: SparkSession, dir: String) => {
      val cands = candidateIndexFor(s, dir)._3
        .where(col("n_shared_bands") >= 2)
      val p = table(s, dir, "documents")
        .select(col("doc_id"),
          decode(encode(substring(col("text"), 1, EditPfx), "UTF-8"),
            "ISO-8859-1").as("pfx"))
      // r15 (optimization): every emitted pair has edit_dist ≤
      // (1 − EditSimTau)·max byte length (the sim filter), so the DP runs
      // the 3-arg BANDED levenshtein (O(n·maxDist) band + early exit
      // instead of the full O(n²) table; Spark ≥3.5). Over-threshold pairs
      // return −1 and are dropped by the explicit edit_dist ≥ 0 guard
      // BEFORE the sim filter (−1 would otherwise read as sim > 1);
      // surviving pairs carry the identical exact distance, so the emitted
      // relation is unchanged (hash-gated).
      // r16 (advisor fix): the band must be sized from the BYTE worst
      // case — EditPfx is codepoints, but the DP and the sim denominator
      // run over the Latin-1 byte proxy, bounded at 4·EditPfx bytes
      // (4-byte UTF-8). With the old (1−τ)·EditPfx=51 band, a non-ASCII
      // pair with max byte length > EditPfx and true distance in
      // (51, (1−τ)·4·EditPfx] would pass edit_sim ≥ τ yet read −1 and be
      // dropped, diverging from the oracle (latent: fixture is ASCII).
      // A flat 204 band would be exact but forfeits the banded win on
      // short prefixes, so the band is PIECEWISE in the pair's max byte
      // length L (length() on the Latin-1 proxy IS the byte length):
      // any emitted pair has dist ≤ floor((1−τ)·L), so a bucket band of
      // floor((1−τ)·B) is exact for every pair with L ≤ B — pairs a
      // bucket band rejects (−1) have dist > (1−τ)·B ≥ (1−τ)·L, i.e.
      // exactly the pairs the sim filter drops. ASCII corpora
      // (L ≤ EditPfx) always take the tightest 51 band.
      def banded(t: Int) =
        levenshtein(col("pfx_a"), col("pfx_b"), t).cast("long")
      val maxLen = greatest(length(col("pfx_a")), length(col("pfx_b")))
      val editDist =
        when(maxLen <= EditPfx, banded(((1.0 - EditSimTau) * EditPfx).toInt))
          .when(maxLen <= 2 * EditPfx,
            banded(((1.0 - EditSimTau) * 2 * EditPfx).toInt))
          .otherwise(banded(((1.0 - EditSimTau) * 4 * EditPfx).toInt))
      cands
        .join(p.select(col("doc_id").as("doc_a"), col("pfx").as("pfx_a")), "doc_a")
        .join(p.select(col("doc_id").as("doc_b"), col("pfx").as("pfx_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          editDist.as("edit_dist"),
          length(col("pfx_a")).cast("long").as("len_a"),
          length(col("pfx_b")).cast("long").as("len_b"))
        .withColumn("edit_sim", lit(1.0) - col("edit_dist").cast("double")
          / greatest(col("len_a"), col("len_b"), lit(1L)))
        .where(col("edit_dist") >= 0 && col("edit_sim") >= EditSimTau)
        .orderBy(desc("edit_sim"), asc("doc_a"), asc("doc_b"))
    }),

    // Exact n-gram Jaccard verification over the LSH candidates only.
    // The (doc_id, token) frame feeds BOTH the token-set aggregation and
    // the candidate pipeline; Spark recomputes unshared subplans per
    // branch (measured on q_text_langid — see SCALING.md), so it is
    // materialized once with an eager localCheckpoint.
    "q_llm_ngram_jaccard" -> ((s: SparkSession, dir: String) => {
      val (toks, _, allCands) = candidateIndexFor(s, dir)
      val sets = toks.groupBy("doc_id")
        .agg(collect_set(col("token")).as("toks"))
      val cands = allCands.where(col("n_shared_bands") >= 2)
      cands
        .join(sets.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("toks_a"), col("toks_b"))).cast("double")
            / size(array_union(col("toks_a"), col("toks_b")))).as("jaccard"))
        .where(col("jaccard") >= 0.2)
        .orderBy(desc("jaccard"), asc("doc_a"), asc("doc_b"))
        .limit(200)
    }),

    // Exact term-frequency COSINE over the LSH candidates (r12c3) — the
    // multiset-similarity complement to q_llm_ngram_jaccard's set Jaccard
    // and q_llm_bow_dedup's exact multiset digest: Jaccard ignores
    // repetition, the bow digest only answers equal/not-equal, tf-cosine
    // ranks partial template overlap. Numerator and norms are EXACT
    // BIGINTs off the memoized tf index (dot = Σ tf_a·tf_b via a
    // (doc, 60-bit shingle-key digest) equi-join — tokens NEVER ride an
    // exchange as strings, rule 5b); the readout is the shared
    // tfCosFormula (sqrt+divide, IEEE-exact). Engine and oracle BOTH
    // aggregate tf by digest, so a digest collision (merged tf) cannot
    // split the gate. Pair volume is LSH-cap-bounded; the ss relation is
    // O(#docs) and joins SHUFFLED (the dup_clusters never-broadcast
    // rule).
    "q_llm_tf_cosine" -> ((s: SparkSession, dir: String) => {
      graft.functions.GraftFunctions.register(s)
      val cands = candidateIndexFor(s, dir)._3
        .where(col("n_shared_bands") >= 2)
      val idx = TextOps.tokenIndexFor(s, dir)
        .select(col("doc_id"),
          call_function("shingle_key", col("token")).as("tk"), col("tf"))
        .groupBy("doc_id", "tk").agg(sum("tf").as("tf"))
      val ss = idx.groupBy("doc_id").agg(sum(expr("tf * tf")).as("ss"))
      val dot = cands
        .join(idx.select(col("doc_id").as("doc_a"), col("tk"),
          col("tf").as("tfa")), "doc_a")
        .join(idx.select(col("doc_id").as("doc_b"), col("tk"),
          col("tf").as("tfb")), Seq("doc_b", "tk"))
        .groupBy("doc_a", "doc_b").agg(sum(expr("tfa * tfb")).as("dot"))
      dot
        .join(ss.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")),
          "doc_a")
        .join(ss.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")),
          "doc_b")
        .selectExpr("doc_a", "doc_b", "CAST(dot AS BIGINT) AS dot",
          "CAST(ss_a AS BIGINT) AS ss_a", "CAST(ss_b AS BIGINT) AS ss_b",
          tfCosFormula)
        .where(col("tf_cos") >= TfCosTau)
        .orderBy(desc("tf_cos"), asc("doc_a"), asc("doc_b"))
        .limit(TfCosLimit)
    }),

    // ROUGE-1 overlap scoring over the LSH candidates (r12c3) — the
    // summarization/contamination EVAL metric next to tf-cosine's
    // geometry: multiset unigram overlap Σ min(tf_a, tf_b) with
    // precision against doc_a's length, recall against doc_b's, F1 from
    // the staged named columns. A pair scoring high recall but low
    // precision is a CONTAINMENT hit (doc_b quoted inside doc_a) —
    // the read Jaccard and cosine both blur. Same digest-join shape as
    // q_llm_tf_cosine (tokens never ride exchanges as strings; both
    // engines aggregate tf by digest); exact BIGINTs until the staged
    // divisions.
    "q_llm_rouge1" -> ((s: SparkSession, dir: String) => {
      graft.functions.GraftFunctions.register(s)
      val cands = candidateIndexFor(s, dir)._3
        .where(col("n_shared_bands") >= 2)
      val idx = TextOps.tokenIndexFor(s, dir)
        .select(col("doc_id"),
          call_function("shingle_key", col("token")).as("tk"), col("tf"))
        .groupBy("doc_id", "tk").agg(sum("tf").as("tf"))
      val dl = idx.groupBy("doc_id").agg(sum("tf").as("dl"))
      val ov = cands
        .join(idx.select(col("doc_id").as("doc_a"), col("tk"),
          col("tf").as("tfa")), "doc_a")
        .join(idx.select(col("doc_id").as("doc_b"), col("tk"),
          col("tf").as("tfb")), Seq("doc_b", "tk"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(least(col("tfa"), col("tfb"))).as("overlap"))
      ov
        .join(dl.select(col("doc_id").as("doc_a"), col("dl").as("dl_a")),
          "doc_a")
        .join(dl.select(col("doc_id").as("doc_b"), col("dl").as("dl_b")),
          "doc_b")
        .selectExpr("doc_a", "doc_b", "CAST(overlap AS BIGINT) AS overlap",
          "CAST(dl_a AS BIGINT) AS dl_a", "CAST(dl_b AS BIGINT) AS dl_b",
          rougePFormula, rougeRFormula)
        .selectExpr("doc_a", "doc_b", "overlap", "dl_a", "dl_b",
          "rouge_p", "rouge_r", rougeF1Formula)
        .orderBy(desc("rouge_f1"), asc("doc_a"), asc("doc_b"))
        .limit(200)
    }),

    // One-pass MinHash signatures via the typed aggregate
    // (graft.functions.MinHashAgg): one K-long array buffer per group
    // instead of K min() columns — the SURVEY §4.2 sketch-aggregate path.
    // Oracled since round 4: the signature projections replay in SQL.
    "q_llm_minhash_sketch" -> ((s: SparkSession, dir: String) => {
      val sketch = udaf(new graft.functions.MinHashAgg(NumHashes))
      docTokens(table(s, dir, "documents"))
        .groupBy("doc_id")
        .agg(sketch(col("token")).as("sig"))
        .select(col("doc_id"),
          asLong(size(col("sig"))).as("k"),
          element_at(col("sig"), 1).as("sig_head"),
          array_min(col("sig")).as("sig_min"))
        .orderBy("doc_id")
    }),

    // 16-bit SimHash fingerprints + cluster sizes (oracled since round 4).
    // cluster_n via hash-agg + broadcast rejoin, NOT a count window over
    // simhash: a duplicate-heavy corpus concentrates one fingerprint in one
    // window partition (single-task funnel), while the count relation is at
    // most 2^16 rows. Both branches share the sigs pipeline's doc_id
    // exchange (ReusedExchange), so the token scan + partial agg is paid
    // once.
    "q_llm_simhash" -> ((s: SparkSession, dir: String) => {
      val sigs = simhashSigsFor(s, dir, 16)
      val counts = sigs.groupBy("simhash")
        .agg(asLong(count(lit(1))).as("cluster_n"))
      sigs.join(broadcast(counts), Seq("simhash"))
        .select(col("doc_id"), col("simhash"), col("cluster_n"))
        .orderBy("doc_id")
    }),

    // Token novelty per doc — the chronological-novelty signal a curation
    // pipeline uses to spot re-crawls and boilerplate floods (a doc whose
    // distinct tokens ALL appeared in earlier docs adds no new content):
    // per token, the first doc_id it appears in (one token-keyed hash agg
    // over the memoized distinct (doc_id, token) index — map-side
    // combinable); the per-doc novel-token count is then ANOTHER hash agg
    // over that first-occurrence relation, so there is never a
    // token-fanout rejoin of two corpus-sized sides. novelty =
    // n_novel / n_tokens, one IEEE division of exact counts.
    "q_llm_ngram_novelty" -> ((s: SparkSession, dir: String) => {
      val (toks, _, _) = candidateIndexFor(s, dir)
      val perDoc = toks.groupBy("doc_id")
        .agg(asLong(count(lit(1))).as("n_tokens"))
      val novel = toks.groupBy("token").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(asLong(count(lit(1))).as("n_novel"))
      perDoc.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          (coalesce(col("n_novel"), lit(0L)).cast("double")
            / col("n_tokens")).as("novelty"))
        .orderBy("doc_id")
    }),

    // Cross-source near-dup overlap — the inter-source contamination
    // matrix (how much of each source pair is the same content, e.g. one
    // crawl re-shipping another source's pages): LSH candidate pairs at
    // >= 2 shared bands (from the memoized index) joined per side to the
    // (doc_id, source) projection — two corpus-keyed equi joins, neither
    // side broadcast (both are O(#docs); the dup_clusters lesson) —
    // rolled up on the unordered source-pair key. The 1-row total behind
    // pair_share is the declared broadcast-total pattern.
    "q_llm_cross_source_overlap" -> ((s: SparkSession, dir: String) => {
      val cands = candidateIndexFor(s, dir)._3
        .where(col("n_shared_bands") >= 2)
      val src = table(s, dir, "documents").select(col("doc_id"), col("source"))
      val pairs = cands
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
        .select(least(col("src_a"), col("src_b")).as("source_lo"),
          greatest(col("src_a"), col("src_b")).as("source_hi"))
        .groupBy("source_lo", "source_hi")
        .agg(asLong(count(lit(1))).as("n_pairs"))
      // the matrix is <= #sources² rows (agg-bounded above), so the share
      // denominator is one no-partition window pass over it — same plan
      // branch, no recomputed total relation
      pairs
        .withColumn("total_pairs", sum("n_pairs").over(Window.partitionBy()))
        .select(col("source_lo"), col("source_hi"), col("n_pairs"),
          (col("n_pairs").cast("double") / col("total_pairs")).as("pair_share"),
          (col("source_lo") =!= col("source_hi")).as("cross_source"))
        .orderBy("source_lo", "source_hi")
    }),

    // Bag-of-words (word-order-invariant) multiset dedup (r12): exact
    // dedup misses docs whose words were SHUFFLED (templated spam,
    // list-reordered scrapes); shingle/MinHash screens are order-
    // sensitive too. The per-doc multiset digest Σ_terms tf·th mod P is
    // order-invariant by construction and computed on BOTH polynomial
    // bases, paired injectively (the ShingleKey discipline — a collision
    // needs both ~2^30 sums to agree, ~2^60 keyspace). Per-source
    // report: bag-dup docs vs exact-dup docs (sha256) — the gap
    // (n_reorder_only = n_bag_dup − n_exact_dup, ex-dup ⇒ bag-dup) is
    // the reorder-duplication the exact pass cannot see. Scale: digests
    // ride the memoized token index (one hash agg keyed by doc_id, no
    // token text on any exchange); per-key sizes are groupBy().count()
    // with ONLY the sz>1 slice broadcast back (the r8 dup_clusters
    // rule); arithmetic bounds: tf·th < 2^33·2^30 and the per-doc sum
    // < #terms·P — exact for docs under ~2^33 distinct terms.
    "q_llm_bow_dedup" -> ((s: SparkSession, dir: String) => {
      graft.functions.GraftFunctions.register(s)
      val docs = table(s, dir, "documents")
      val bags = bagKeys(TextOps.tokenIndexFor(s, dir))
      val keyed = docs
        .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("ex_key"))
        .join(bags, Seq("doc_id"), "left")
        .withColumn("bag_key", coalesce(col("bag_key"), lit(-1L)))
      val bsz = keyed.groupBy("bag_key")
        .agg(count(lit(1)).as("bsz")).where(col("bsz") > 1)
      val esz = keyed.groupBy("ex_key")
        .agg(count(lit(1)).as("esz")).where(col("esz") > 1)
      keyed
        .join(broadcast(bsz), Seq("bag_key"), "left")
        .join(broadcast(esz), Seq("ex_key"), "left")
        .withColumn("bag_dup", coalesce(col("bsz"), lit(1L)) > 1)
        .withColumn("ex_dup", coalesce(col("esz"), lit(1L)) > 1)
        .groupBy("source")
        .agg(asLong(count(lit(1))).as("n_docs"),
          asLong(sum(when(col("bag_dup"), 1L).otherwise(0L))).as("n_bag_dup"),
          asLong(sum(when(col("ex_dup"), 1L).otherwise(0L))).as("n_exact_dup"),
          asLong(sum(when(col("bag_dup") && !col("ex_dup"), 1L).otherwise(0L)))
            .as("n_reorder_only"),
          asLong(countDistinct(when(col("bag_dup"), col("bag_key"))))
            .as("n_bag_clusters"))
        .withColumn("bag_dup_rate",
          col("n_bag_dup").cast("double") / col("n_docs"))
        .orderBy("source")
    })
  )

  /** Word-order-invariant multiset digest over a `(doc_id, token, tf)`
    * relation → `(doc_id, bag_key)`: per-term contributions
    * `(tf · th) % P` on both polynomial bases summed per doc and paired
    * injectively as `d1 · P + d2`. Factored out so the spec can feed
    * synthetic reordered corpora (the q_llm_bow_dedup primitive). */
  private[graft] def bagKeys(toks: DataFrame): DataFrame = {
    val P = graft.functions.ReplayableHash.P
    toks
      .select(col("doc_id"), col("tf"),
        call_function("shingle_key", col("token")).as("sk"))
      .select(col("doc_id"),
        expr(s"(tf * (sk div $P)) % $P").as("c1"),
        expr(s"(tf * (sk % $P)) % $P").as("c2"))
      .groupBy("doc_id")
      .agg((sum(col("c1")) % P).as("d1"), (sum(col("c2")) % P).as("d2"))
      .select(col("doc_id"), expr(s"d1 * $P + d2").as("bag_key"))
  }

  /** Keep-first-K bucket cap replayed in SQL (the capBuckets contract). */
  private[ops] def cappedBandsSql(cap: Int): String =
    s"""capped AS (
       |  SELECT doc_id, band, bh FROM (
       |    SELECT doc_id, band, bh,
       |           row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) AS brn
       |    FROM bands) WHERE brn <= $cap)""".stripMargin

  def oracle: Seq[(String, String)] = {
    val RH = graft.functions.ReplayableHash
    Seq(

    "q_llm_minhash" ->
      s"""WITH
         |${RH.tokenHashCte},
         |${RH.minhashSigsCte(NumHashes)},
         |${RH.lshBandsCte},
         |${cappedBandsSql(MaxBucket)},
         |pairs AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM capped x JOIN capped y USING (band, bh)
         |  WHERE x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, count(*) AS n_shared_bands
         |FROM pairs GROUP BY doc_a, doc_b
         |ORDER BY n_shared_bands DESC, doc_a, doc_b LIMIT 500""".stripMargin,

    "q_llm_minhash_recall" ->
      s"""WITH
         |${RH.tokenHashCte},
         |${RH.minhashSigsCte(NumHashes)},
         |${RH.lshBandsCte},
         |${cappedBandsSql(MaxBucket)},
         |cand0 AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM capped x JOIN capped y USING (band, bh)
         |  WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |cand AS MATERIALIZED (
         |  SELECT doc_a AS probe_id, doc_b AS doc_id FROM cand0 WHERE doc_a < $MhEvalProbes
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM cand0 WHERE doc_b < $MhEvalProbes),
         |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
         |inter AS (
         |  SELECT p.doc_id AS probe_id, t.doc_id AS doc_id, count(*) AS inter
         |  FROM tok p JOIN tok t USING (token)
         |  WHERE p.doc_id < $MhEvalProbes AND t.doc_id <> p.doc_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT i.probe_id, i.doc_id,
         |         CAST(i.inter AS DOUBLE) / (sp.n_tok + st.n_tok - i.inter) AS jac
         |  FROM inter i
         |  JOIN sz sp ON sp.doc_id = i.probe_id
         |  JOIN sz st ON st.doc_id = i.doc_id),
         |exact AS MATERIALIZED (
         |  SELECT probe_id, doc_id FROM (
         |    SELECT probe_id, doc_id,
         |           row_number() OVER (PARTITION BY probe_id ORDER BY jac DESC, doc_id) AS rn
         |    FROM scored) WHERE rn <= $MhEvalK),
         |nc AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY probe_id),
         |h AS (
         |  SELECT e.probe_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM exact e JOIN cand c ON c.probe_id = e.probe_id AND c.doc_id = e.doc_id
         |  GROUP BY 1),
         |ex AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact FROM exact GROUP BY probe_id)
         |SELECT ex.probe_id, n_exact,
         |       CAST(COALESCE(n_cand, 0) AS BIGINT) AS n_cand,
         |       CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_exact AS recall
         |FROM ex LEFT JOIN nc USING (probe_id) LEFT JOIN h USING (probe_id)
         |ORDER BY probe_id""".stripMargin,

    "q_llm_minhash_est" ->
      s"""WITH
         |${RH.tokenHashCte},
         |${RH.minhashSigsCte(NumHashes)},
         |${RH.lshBandsCte},
         |${cappedBandsSql(MaxBucket)},
         |cand AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared_bands
         |  FROM capped x JOIN capped y USING (band, bh)
         |  WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |ag AS (
         |  SELECT c.doc_a, c.doc_b,
         |         count(*) FILTER (WHERE sa.sig = sb.sig) AS n_agree
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc_id = c.doc_a
         |  JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.k = sa.k
         |  GROUP BY 1, 2)
         |SELECT c.doc_a, c.doc_b, c.n_shared_bands,
         |       CAST(ag.n_agree AS BIGINT) AS n_agree,
         |       CAST(ag.n_agree AS DOUBLE) / $NumHashes AS jaccard_est
         |FROM cand c JOIN ag USING (doc_a, doc_b)
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_llm_minhash_sketch" ->
      s"""WITH
         |${RH.tokenHashCte},
         |${RH.minhashSigsCte(NumHashes)}
         |SELECT doc_id, CAST($NumHashes AS BIGINT) AS k,
         |       min(CASE WHEN sigs.k = 0 THEN sig END) AS sig_head,
         |       min(sig) AS sig_min
         |FROM sigs GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_llm_simhash" ->
      s"""WITH
         |${RH.tokenHashCte},
         |${RH.simhashCte(16)}
         |SELECT doc_id, simhash,
         |       CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS cluster_n
         |FROM sh ORDER BY doc_id""".stripMargin,

    "q_llm_editdist_neardup" ->
      s"""WITH
         |${RH.tokenHashCte},
         |${RH.minhashSigsCte(NumHashes)},
         |${RH.lshBandsCte},
         |${cappedBandsSql(MaxBucket)},
         |cand AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM capped x JOIN capped y USING (band, bh)
         |  WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |p AS (SELECT doc_id, substring(text, 1, $EditPfx) AS pfx FROM documents),
         |x AS (
         |  -- BYTE unit on both engines: DuckDB levenshtein is byte-based
         |  -- natively; lengths are strlen (bytes), matching the engine's
         |  -- Latin-1 byte-proxy DP. substring is codepoint-based in BOTH
         |  -- engines, so the capped prefix is identical first.
         |  SELECT c.doc_a, c.doc_b,
         |         CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist,
         |         CAST(strlen(a.pfx) AS BIGINT) AS len_a,
         |         CAST(strlen(b.pfx) AS BIGINT) AS len_b
         |  FROM cand c
         |  JOIN p a ON a.doc_id = c.doc_a
         |  JOIN p b ON b.doc_id = c.doc_b),
         |sim AS (
         |  SELECT doc_a, doc_b, edit_dist, len_a, len_b,
         |         1.0 - CAST(edit_dist AS DOUBLE) / greatest(len_a, len_b, 1)
         |           AS edit_sim
         |  FROM x)
         |SELECT doc_a, doc_b, edit_dist, len_a, len_b, edit_sim
         |FROM sim WHERE edit_sim >= $EditSimTau
         |ORDER BY edit_sim DESC, doc_a, doc_b""".stripMargin,

    "q_llm_ngram_jaccard" ->
      s"""WITH
         |${RH.tokenHashCte},
         |${RH.minhashSigsCte(NumHashes)},
         |${RH.lshBandsCte},
         |${cappedBandsSql(MaxBucket)},
         |cand AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM capped x JOIN capped y USING (band, bh)
         |  WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
         |ix AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS ni
         |  FROM cand c
         |  JOIN tok a ON a.doc_id = c.doc_a
         |  JOIN tok b ON b.doc_id = c.doc_b AND b.token = a.token
         |  GROUP BY c.doc_a, c.doc_b),
         |jc AS (
         |  SELECT c.doc_a, c.doc_b,
         |         CAST(coalesce(ix.ni, 0) AS DOUBLE)
         |           / (sa.n + sb.n - coalesce(ix.ni, 0)) AS jaccard
         |  FROM cand c
         |  JOIN sz sa ON sa.doc_id = c.doc_a
         |  JOIN sz sb ON sb.doc_id = c.doc_b
         |  LEFT JOIN ix ON ix.doc_a = c.doc_a AND ix.doc_b = c.doc_b)
         |SELECT doc_a, doc_b, jaccard FROM jc WHERE jaccard >= 0.2
         |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 200""".stripMargin,

    "q_llm_tf_cosine" ->
      s"""WITH
         |${RH.tokenHashCte},
         |${RH.minhashSigsCte(NumHashes)},
         |${RH.lshBandsCte},
         |${cappedBandsSql(MaxBucket)},
         |cand AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM capped x JOIN capped y USING (band, bh)
         |  WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |tfx AS (
         |  SELECT doc_id, ${RH.shingleKeySql("token")} AS tk,
         |         CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |    FROM documents)
         |  WHERE length(token) > 0 GROUP BY doc_id, tk),
         |ssq AS (
         |  SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS ss
         |  FROM tfx GROUP BY doc_id),
         |dt AS (
         |  SELECT c.doc_a, c.doc_b, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
         |  FROM cand c
         |  JOIN tfx a ON a.doc_id = c.doc_a
         |  JOIN tfx b ON b.doc_id = c.doc_b AND b.tk = a.tk
         |  GROUP BY c.doc_a, c.doc_b),
         |fin AS (
         |  SELECT dt.doc_a, dt.doc_b, dt.dot, sa.ss AS ss_a, sb.ss AS ss_b,
         |         $tfCosFormula
         |  FROM dt
         |  JOIN ssq sa ON sa.doc_id = dt.doc_a
         |  JOIN ssq sb ON sb.doc_id = dt.doc_b)
         |SELECT doc_a, doc_b, dot, ss_a, ss_b, tf_cos FROM fin
         |WHERE tf_cos >= $TfCosTau
         |ORDER BY tf_cos DESC, doc_a, doc_b LIMIT $TfCosLimit""".stripMargin,

    "q_llm_rouge1" ->
      s"""WITH
         |${RH.tokenHashCte},
         |${RH.minhashSigsCte(NumHashes)},
         |${RH.lshBandsCte},
         |${cappedBandsSql(MaxBucket)},
         |cand AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM capped x JOIN capped y USING (band, bh)
         |  WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |tfx AS (
         |  SELECT doc_id, ${RH.shingleKeySql("token")} AS tk,
         |         CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |    FROM documents)
         |  WHERE length(token) > 0 GROUP BY doc_id, tk),
         |dlq AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
         |  FROM tfx GROUP BY doc_id),
         |ovl AS (
         |  SELECT c.doc_a, c.doc_b,
         |         CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS overlap
         |  FROM cand c
         |  JOIN tfx a ON a.doc_id = c.doc_a
         |  JOIN tfx b ON b.doc_id = c.doc_b AND b.tk = a.tk
         |  GROUP BY c.doc_a, c.doc_b),
         |wl AS (
         |  SELECT o.doc_a, o.doc_b, o.overlap,
         |         da.dl AS dl_a, db.dl AS dl_b
         |  FROM ovl o
         |  JOIN dlq da ON da.doc_id = o.doc_a
         |  JOIN dlq db ON db.doc_id = o.doc_b),
         |pr2 AS (
         |  SELECT doc_a, doc_b, overlap, dl_a, dl_b,
         |         $rougePFormula, $rougeRFormula
         |  FROM wl)
         |SELECT doc_a, doc_b, overlap, dl_a, dl_b, rouge_p, rouge_r,
         |       $rougeF1Formula
         |FROM pr2
         |ORDER BY rouge_f1 DESC, doc_a, doc_b LIMIT 200""".stripMargin,

    "q_llm_exact_dedup" ->
      """SELECT sha256(text) AS text_sha, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin,

    "q_llm_dup_lang_chi2" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, sha256(text) AS sha FROM documents),
        |fam AS (SELECT sha, CAST(count(*) AS BIGINT) AS nc FROM docs GROUP BY sha),
        |flagged AS (
        |  SELECT d.lang, CASE WHEN fam.nc > 1 THEN 1 ELSE 0 END AS dup
        |  FROM docs d JOIN fam USING (sha)),
        |byl AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dup) AS BIGINT) AS n_dup
        |  FROM flagged GROUP BY lang),
        |tot AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS tot_n,
        |         CAST(sum(n_dup) AS BIGINT) AS tot_dup
        |  FROM byl),
        |st1 AS (
        |  SELECT lang, n_docs, n_dup, tot_n, tot_dup,
        |         CAST(n_dup AS DOUBLE) / n_docs AS dup_rate,
        |         CAST(n_docs * tot_dup AS DOUBLE) / tot_n AS e_dup,
        |         CAST(n_docs * (tot_n - tot_dup) AS DOUBLE) / tot_n AS e_keep
        |  FROM byl CROSS JOIN tot),
        |st2 AS (
        |  SELECT lang, n_docs, n_dup, dup_rate, e_dup, e_keep,
        |         CAST(n_dup AS DOUBLE) - e_dup AS d1,
        |         CAST(n_docs - n_dup AS DOUBLE) - e_keep AS d2
        |  FROM st1)
        |SELECT lang, n_docs, n_dup, dup_rate, e_dup,
        |       CASE WHEN e_dup > CAST(0 AS DOUBLE) AND e_keep > CAST(0 AS DOUBLE) THEN d1 * d1 / e_dup + d2 * d2 / e_keep ELSE CAST(0 AS DOUBLE) END AS chi2_lang
        |FROM st2 ORDER BY lang""".stripMargin,

    // Positional token hashes (NOT the distinct-token tokenHashCte —
    // block identity is order-sensitive), fixed-width complete blocks,
    // then the same fold / df-count / mod-P fingerprint arithmetic the
    // Spark side computes, generated from the shared constants.
    "q_llm_block_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS ts
         |  FROM documents),
         |tkpos AS (SELECT doc_id, unnest(range(1, length(ts) + 1)) AS pos, ts FROM toks),
         |tk AS (SELECT doc_id, pos, ts[CAST(pos AS INT)] AS token FROM tkpos),
         |pth AS (SELECT doc_id, pos, ${RH.tokenHashSql("token")} AS th FROM tk),
         |blk AS (
         |  SELECT doc_id, CAST((pos - 1) // 8 AS BIGINT) AS blk, list(th ORDER BY pos) AS hs
         |  FROM pth GROUP BY doc_id, (pos - 1) // 8 HAVING count(*) = 8),
         |bh AS (SELECT doc_id, blk, ${RH.blockFoldSql("hs")} AS bh FROM blk),
         |occ AS (SELECT bh AS h, count(*) AS df FROM bh GROUP BY bh),
         |st AS (
         |  SELECT b.doc_id, count(*) AS n_blocks,
         |         CAST(sum(CASE WHEN o.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
         |         CAST(sum(CASE WHEN o.df = 1
         |                       THEN (((b.blk + 1) % ${RH.P}) * b.bh) % ${RH.P}
         |                       ELSE 0 END) % ${RH.P} AS BIGINT) AS uniq_fp
         |  FROM bh b JOIN occ o ON o.h = b.bh GROUP BY b.doc_id),
         |nt AS (
         |  SELECT doc_id,
         |         CAST(length(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT nt.doc_id AS doc_id, nt.n_tokens AS n_tokens,
         |       COALESCE(st.n_blocks, 0) AS n_blocks,
         |       COALESCE(st.n_dup_blocks, 0) AS n_dup_blocks,
         |       CASE WHEN st.n_blocks > 0
         |            THEN CAST(st.n_dup_blocks AS DOUBLE) / st.n_blocks END AS dup_ratio,
         |       COALESCE(st.uniq_fp, 0) AS uniq_fp
         |FROM nt LEFT JOIN st ON st.doc_id = nt.doc_id
         |ORDER BY nt.doc_id""".stripMargin,

    // Method-agreement oracle: the three flag sets from the SAME shared
    // CTE builders the dedup oracles use (tokenHashCte / minhashSigsCte /
    // lshBandsCte / simhashCte — single source of truth), collapsed to a
    // per-doc bitmask and a mask histogram; the pair matrix is literal
    // arithmetic. (simhash >> n) & 65535 equals the engine's unsigned
    // shift under the mask (the simhash_neardup precedent).
    "q_llm_dedup_agreement" ->
      s"""WITH
         |${RH.tokenHashCte},
         |${RH.minhashSigsCte(NumHashes)},
         |${RH.lshBandsCte},
         |${RH.simhashCte(64)},
         |exf AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, count(*) OVER (PARTITION BY sha256(text)) AS c
         |    FROM documents) WHERE c > 1),
         |mhd AS (SELECT band, bh FROM bands GROUP BY band, bh HAVING count(*) > 1),
         |mhf AS (SELECT DISTINCT b.doc_id FROM bands b JOIN mhd USING (band, bh)),
         |shb AS (
         |  SELECT doc_id, b.band, (simhash >> (16 * b.band)) & 65535 AS bv
         |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
         |shd AS (SELECT band, bv FROM shb GROUP BY band, bv HAVING count(*) > 1),
         |shf AS (SELECT DISTINCT s0.doc_id FROM shb s0 JOIN shd USING (band, bv)),
         |m AS (
         |  SELECT d.doc_id,
         |         (CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |         + (CASE WHEN mh.doc_id IS NOT NULL THEN 2 ELSE 0 END)
         |         + (CASE WHEN sf.doc_id IS NOT NULL THEN 4 ELSE 0 END) AS mask
         |  FROM documents d
         |  LEFT JOIN exf e ON e.doc_id = d.doc_id
         |  LEFT JOIN mhf mh ON mh.doc_id = d.doc_id
         |  LEFT JOIN shf sf ON sf.doc_id = d.doc_id),
         |h AS (SELECT mask, CAST(count(*) AS BIGINT) AS c FROM m GROUP BY mask),
         |pr AS (SELECT * FROM (VALUES ('exact', 1, 'minhash', 2),
         |                            ('exact', 1, 'simhash', 4),
         |                            ('minhash', 2, 'simhash', 4))
         |       v(method_a, bit_a, method_b, bit_b)),
         |ag AS (
         |  SELECT method_a, method_b,
         |         CAST(sum(CASE WHEN (mask & bit_a) > 0 THEN c ELSE 0 END) AS BIGINT) AS n_a,
         |         CAST(sum(CASE WHEN (mask & bit_b) > 0 THEN c ELSE 0 END) AS BIGINT) AS n_b,
         |         CAST(sum(CASE WHEN (mask & bit_a) > 0 AND (mask & bit_b) > 0
         |                       THEN c ELSE 0 END) AS BIGINT) AS n_both
         |  FROM h CROSS JOIN pr GROUP BY method_a, method_b)
         |SELECT method_a, method_b, n_a, n_b, n_both,
         |       CASE WHEN n_a + n_b - n_both > 0
         |            THEN CAST(n_both AS DOUBLE) / (n_a + n_b - n_both) END AS jaccard
         |FROM ag ORDER BY method_a, method_b""".stripMargin,

    // Sliding-window twin of the block_dedup oracle: per-doc ORDERED token
    // hash lists (both bases), one 60-bit pairing digest per position via
    // slice folds, df counts, then the same gaps-and-islands merge the
    // Spark side runs (equal-width intervals sorted by pos: merge iff
    // pos ≤ prev + w). `whr` is read twice -> MATERIALIZED (CLAUDE rule).
    // The CTE chain is factored (spanDedupCte) so the per-source rollup
    // twin cannot drift.
    "q_llm_span_dedup" ->
      s"""WITH $spanDedupCte
         |SELECT nt.doc_id AS doc_id, nt.n_tokens AS n_tokens,
         |       COALESCE(rep.n_spans, 0) AS n_spans,
         |       COALESCE(rep.removed_tokens, 0) AS removed_tokens,
         |       nt.n_tokens - COALESCE(rep.removed_tokens, 0) AS kept_tokens,
         |       COALESCE(rep.span_fp, 0) AS span_fp
         |FROM nt LEFT JOIN rep ON rep.doc_id = nt.doc_id
         |ORDER BY nt.doc_id""".stripMargin,

    // Multi-width sweep over the width-parameterized chains (shared
    // MATERIALIZED tl prefix; per-width reps unioned in repw): one row
    // per (doc, width), all widths present per doc via the nt × widths
    // cross.
    "q_llm_span_dedup_multi" ->
      s"""WITH $spanDedupMultiCte
         |SELECT nt.doc_id AS doc_id, ws.w AS w, nt.n_tokens AS n_tokens,
         |       COALESCE(repw.n_spans, 0) AS n_spans,
         |       COALESCE(repw.removed_tokens, 0) AS removed_tokens,
         |       nt.n_tokens - COALESCE(repw.removed_tokens, 0) AS kept_tokens,
         |       COALESCE(repw.span_fp, 0) AS span_fp
         |FROM nt CROSS JOIN (SELECT CAST(unnest([${SpanWidths.mkString(", ")}]) AS BIGINT) AS w) ws
         |LEFT JOIN repw ON repw.doc_id = nt.doc_id AND repw.w = ws.w
         |ORDER BY nt.doc_id, ws.w""".stripMargin,

    // Per-source rollup over the SAME spanDedupCte chain: removal burden
    // by provenance (the dup_rate_by_source read at span granularity).
    "q_llm_span_dedup_by_source" ->
      s"""WITH $spanDedupCte,
         |pd AS (
         |  SELECT nt.doc_id, nt.n_tokens,
         |         COALESCE(rep.n_spans, 0) AS n_spans,
         |         COALESCE(rep.removed_tokens, 0) AS removed_tokens
         |  FROM nt LEFT JOIN rep ON rep.doc_id = nt.doc_id)
         |SELECT d.source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN pd.n_spans > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_spans,
         |       CAST(sum(pd.n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(sum(pd.removed_tokens) AS BIGINT) AS removed_tokens,
         |       CASE WHEN sum(pd.n_tokens) > 0
         |            THEN CAST(sum(pd.removed_tokens) AS DOUBLE) / CAST(sum(pd.n_tokens) AS DOUBLE)
         |       END AS removal_rate
         |FROM pd JOIN documents d ON d.doc_id = pd.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "q_llm_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |       min(n_chars) AS min_chars,
        |       max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // First-occurrence novelty: the same two-hash-agg shape the engine
    // runs (min doc_id per token, then the per-doc histogram of firsts).
    "q_llm_ngram_novelty" ->
      s"""WITH
         |${RH.tokenHashCte},
         |nd AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id),
         |fo AS (SELECT min(doc_id) AS doc_id FROM tok GROUP BY token),
         |nv AS (SELECT doc_id, count(*) AS n_novel FROM fo GROUP BY doc_id)
         |SELECT nd.doc_id AS doc_id, nd.n_tokens AS n_tokens,
         |       COALESCE(nv.n_novel, 0) AS n_novel,
         |       CAST(COALESCE(nv.n_novel, 0) AS DOUBLE) / nd.n_tokens AS novelty
         |FROM nd LEFT JOIN nv ON nv.doc_id = nd.doc_id
         |ORDER BY nd.doc_id""".stripMargin,

    "q_llm_cross_source_overlap" ->
      s"""WITH
         |${RH.tokenHashCte},
         |${RH.minhashSigsCte(NumHashes)},
         |${RH.lshBandsCte},
         |${cappedBandsSql(MaxBucket)},
         |cand AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM capped x JOIN capped y USING (band, bh)
         |  WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |ps AS (
         |  SELECT least(da.source, db.source) AS source_lo,
         |         greatest(da.source, db.source) AS source_hi,
         |         count(*) AS n_pairs
         |  FROM cand c
         |  JOIN documents da ON da.doc_id = c.doc_a
         |  JOIN documents db ON db.doc_id = c.doc_b
         |  GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total_pairs FROM ps)
         |SELECT source_lo, source_hi, n_pairs,
         |       CAST(n_pairs AS DOUBLE) / t.total_pairs AS pair_share,
         |       source_lo <> source_hi AS cross_source
         |FROM ps CROSS JOIN t
         |ORDER BY source_lo, source_hi""".stripMargin,

    // Same tf/two-base digest arithmetic as bagKeys, generated from the
    // shared constants (intermediate sums run HUGEINT in DuckDB — the
    // % P reduction lands them back in BIGINT before any output).
    "q_llm_bow_dedup" ->
      s"""WITH tok AS (
         |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         |  WHERE length(token) > 0 GROUP BY doc_id, token),
         |th2 AS (
         |  SELECT doc_id, tf, ${RH.tokenHashSql("token")} AS h1,
         |         ${RH.tokenHashSql("token", RH.Base2)} AS h2
         |  FROM tok),
         |bag AS (
         |  SELECT doc_id,
         |         CAST(sum((tf * h1) % ${RH.P}) % ${RH.P} AS BIGINT) AS d1,
         |         CAST(sum((tf * h2) % ${RH.P}) % ${RH.P} AS BIGINT) AS d2
         |  FROM th2 GROUP BY doc_id),
         |keyed AS MATERIALIZED (
         |  SELECT d.doc_id, d.source, sha256(d.text) AS ex_key,
         |         COALESCE(b.d1 * ${RH.P} + b.d2, -1) AS bag_key
         |  FROM documents d LEFT JOIN bag b ON b.doc_id = d.doc_id),
         |bsz AS (SELECT bag_key, count(*) AS bsz FROM keyed GROUP BY bag_key),
         |esz AS (SELECT ex_key, count(*) AS esz FROM keyed GROUP BY ex_key),
         |fl AS (
         |  SELECT k.source, k.bag_key,
         |         (b.bsz > 1) AS bag_dup, (e.esz > 1) AS ex_dup
         |  FROM keyed k JOIN bsz b USING (bag_key) JOIN esz e USING (ex_key))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN bag_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_bag_dup,
         |       CAST(sum(CASE WHEN ex_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |       CAST(sum(CASE WHEN bag_dup AND NOT ex_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_reorder_only,
         |       CAST(count(DISTINCT CASE WHEN bag_dup THEN bag_key END) AS BIGINT) AS n_bag_clusters,
         |       CAST(sum(CASE WHEN bag_dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS bag_dup_rate
         |FROM fl GROUP BY source ORDER BY source""".stripMargin
  )
  }
}
