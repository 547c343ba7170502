package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ReplayableHash

/** Vocabulary / quality-scoring / tokenizer family (SURVEY §2B, split
  * out of CurationOps in r13 — the mega-module split, verdict item 8):
  * tf-idf, vocabulary and Zipf/hapax/stem audits, n-gram LM + per-doc LM
  * scoring, quality buckets / staged-sigmoid logit / Gopher rules,
  * collocations, Pareto pruning, shard packing, curriculum ordering,
  * importance weights, the dataset card, rank fusion, the BPE family,
  * tokenizer fertility, and truncation stats.
  *
  * All shared machinery (the memoized token/shingle indexes, quality
  * scores, cluster relations) stays in [[CurationOps]] — the queries
  * here are the DECLARATIVE layer over it, and the inner
  * `import CurationOps._` keeps every moved body textually identical to
  * its pre-split form (zero behavior drift; the DuckDB hash gate pins
  * it).
  */
object VocabOps extends QueryModule {

  import CurationOps._

  def queries: Seq[(String, Q)] = Seq(

    // Per-doc top-3 TF-IDF tokens. The idf is the RATIONAL (N+1)/(df+1)
    // variant, not ln of it: IEEE division is correctly rounded and thus
    // bit-identical across engines, while ln() is libm-dependent and would
    // break the DuckDB hash gate (§7.4 discipline).
    "q_text_tfidf" -> ((s: SparkSession, dir: String) => {
      val docs = table(s, dir, "documents")
      // Corpus size as a broadcast 1-row relation (the DuckDB twin's `nq`
      // CTE), not a driver-side docs.count(): folds the extra job into the
      // plan. Same long arithmetic → same IEEE double → same oracle hash.
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      // r11: the per-call localCheckpoint became the session-shared
      // memoized token index (TextOps.tokenIndexFor) — same exact tf
      // relation, built once per corpus instead of once per call
      val tf = TextOps.tokenIndexFor(s, dir).select("doc_id", "token", "tf")
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      tf.join(dfreq, "token")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          (col("tf") * (col("n_docs") + lit(1L))).cast("double") / (col("df") + lit(1)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("token"))))
        .where(col("rn") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("tfidf"))
        .orderBy("doc_id", "token")
    }),

    // Corpus vocabulary: top-100 tokens by total frequency with document
    // frequency alongside — the vocabulary-building pass of a BPE-ish
    // tokenizer pipeline.
    "q_text_vocab" -> ((s: SparkSession, dir: String) =>
      // r11: one agg over the memoized token index — Σtf ≡ the corpus
      // occurrence count and the index rows are distinct per (doc, token),
      // so count(1) ≡ the old count_distinct(doc_id)
      TextOps.tokenIndexFor(s, dir)
        .groupBy("token")
        .agg(sum(col("tf")).as("tf_corpus"), count(lit(1)).as("df"))
        .orderBy(desc("tf_corpus"), asc("token"))
        .limit(100)),

    // Token burstiness (r15): Church–Gale dispersion — the
    // variance-to-mean ratio of a token's per-doc tf over ALL docs
    // (zeros included: VMR = (n·Σtf² − (Σtf)²) / (n·Σtf), exact BIGINT
    // numerator/denominator, ONE double division — the §7.4 money
    // discipline). Bursty tokens (VMR ≫ 1: topical/template words)
    // versus Poisson-like function words is the content-word signal a
    // stopword-free quality scorer reads. Rides the memoized token
    // index; the token group sits above a map-side partial agg (the
    // vocab/5b bounded shape); top-50 under a total order. Declared
    // domain bound: (Σtf)² needs Σtf < 2^31·√2 per token — beyond that
    // pre-divide (the collocations scale rule).
    "q_text_burstiness" -> ((s: SparkSession, dir: String) => {
      val nDocs = table(s, dir, "documents").agg(count(lit(1)).as("n"))
      TextOps.tokenIndexFor(s, dir)
        .groupBy("token")
        .agg(asLong(count(lit(1))).as("df"),
          asLong(sum(col("tf"))).as("sum_tf"),
          asLong(sum(col("tf") * col("tf"))).as("sum_tf2"),
          asLong(max(col("tf"))).as("max_tf"))
        .where(col("df") >= 5)
        .crossJoin(broadcast(nDocs))
        .selectExpr("token", "df", "sum_tf", "max_tf",
          "CAST(n * sum_tf2 - sum_tf * sum_tf AS DOUBLE)" +
            " / CAST(n * sum_tf AS DOUBLE) AS burstiness")
        .orderBy(desc("burstiness"), asc("token"))
        .limit(50)
    }),

    // Hapax-legomena / type-token profile per source (r12): the
    // Zipf-tail corpus-quality readout — a scrape dominated by boiler-
    // plate has a thin hapax tail and low TTR; OCR noise or random junk
    // inflates both. vocab / Σtf / once- and twice-seen type counts per
    // source, then two IEEE divisions. Rides the memoized token index;
    // the (source, token) exchange sits above a map-side partial agg
    // (the vocab/5b bounded shape). Exact integers until the ratios.
    // Context-window truncation audit (r12): what a MaxCtx-token cap
    // costs per source — docs over the limit and tokens lost to the cut
    // (Σ max(0, dl − MaxCtx)), the readout a pipeline checks before
    // committing to a packing length. dl = Σtf rides the memoized token
    // index; MaxCtx = 64 sits at the fixture's ~60th length percentile
    // so both sides of the cut are populated. Exact integers until the
    // one share division.
    "q_llm_truncation" -> ((s: SparkSession, dir: String) => {
      val docs = table(s, dir, "documents").select("doc_id", "source")
      val dl = TextOps.tokenIndexFor(s, dir)
        .groupBy("doc_id").agg(sum("tf").as("dl"))
      docs.join(dl, Seq("doc_id"), "left")
        .select(col("source"), coalesce(col("dl"), lit(0L)).as("dl"))
        .groupBy("source")
        .agg(asLong(count(lit(1))).as("n_docs"),
          asLong(sum(when(col("dl") > TruncMaxCtx, 1L).otherwise(0L)))
            .as("n_truncated"),
          asLong(sum("dl")).as("tokens_total"),
          asLong(sum(greatest(col("dl") - TruncMaxCtx, lit(0L))))
            .as("tokens_lost"))
        .withColumn("share_lost",
          col("tokens_lost").cast("double") / col("tokens_total"))
        .orderBy("source")
    }),

    "q_text_hapax" -> ((s: SparkSession, dir: String) => {
      val docs = table(s, dir, "documents").select("doc_id", "source")
      TextOps.tokenIndexFor(s, dir).select("doc_id", "token", "tf")
        .join(docs, "doc_id")
        .groupBy("source", "token")
        .agg(sum(col("tf")).as("stf"))
        .groupBy("source")
        .agg(asLong(count(lit(1))).as("vocab"),
          asLong(sum(col("stf"))).as("n_tokens"),
          asLong(sum(when(col("stf") === 1, 1L).otherwise(0L))).as("n_hapax"),
          asLong(sum(when(col("stf") === 2, 1L).otherwise(0L))).as("n_dis"))
        .withColumn("ttr", col("vocab").cast("double") / col("n_tokens"))
        .withColumn("hapax_share",
          col("n_hapax").cast("double") / col("vocab"))
        .orderBy("source")
    }),

    // Rule-based light-stemmer vocabulary audit (r12c3): how much of the
    // per-language type inventory collapses under a Porter-LIGHT suffix
    // stemmer (plural step + -ing/-ed step, stemStage1/2Formula — ONE
    // text per engine) — the normalization-gain readout a tokenizer
    // pipeline checks before spending vocab slots on inflectional
    // variants. Per lang: type count, stem count, types rewritten,
    // largest merged family, Σtf, and the type/stem compression ratio
    // (one double division over exact integers). Scale: rides the
    // memoized token index; the (lang, token) and (lang, stem) exchanges
    // sit above map-side partial aggs (the vocab/5b bounded shape) and
    // everything after the type agg is vocab-bounded.
    "q_text_stem_vocab" -> ((s: SparkSession, dir: String) => {
      val types = TextOps.tokenIndexFor(s, dir)
        .groupBy("lang", "token")
        .agg(sum("tf").as("tfl"))
      val stemmed = types
        .selectExpr("lang", "token", "tfl", stemStage1Formula)
        .selectExpr("lang", "token", "tfl", stemStage2Formula)
      stemmed.groupBy("lang", "stem")
        .agg(count(lit(1)).as("nt"), sum("tfl").as("tfs"),
          sum(when(col("stem") =!= col("token"), 1L).otherwise(0L))
            .as("nch"))
        .groupBy("lang")
        .agg(asLong(sum("nt")).as("n_types"),
          asLong(count(lit(1))).as("n_stems"),
          asLong(sum("nch")).as("n_changed"),
          asLong(max("nt")).as("max_family"),
          asLong(sum("tfs")).as("tokens_total"))
        .withColumn("type_stem_ratio",
          expr("CAST(n_types AS DOUBLE) / CAST(n_stems AS DOUBLE)"))
        .orderBy("lang")
    }),

    // Zipf-law curve in log2 bins (r12): the corpus-law readout a
    // curation pipeline checks before trusting token statistics — group
    // the vocabulary by ilog2(corpus tf) (≤63 bins by construction, so
    // every post-vocab relation is value-DOMAIN-bounded), report types
    // and occurrences per bin, and fit the log-log slope (for a Zipfian
    // corpus with exponent α≈1 the type count per doubling bin falls ≈2×
    // per bin → slope ≈ −1). The least-squares slope runs on EXACT
    // BIGINT sums over ≤64 (x=bin, y=ilog2 type count) points — one
    // double division at the end (the MI quanta discipline: no libm
    // logs anywhere). Avoids per-token ranks entirely: a global
    // rank-frequency fit would need a corpus-sized ordered prefix sum
    // (the exact-Gini trade), the bin histogram needs one vocab agg.
    "q_text_zipf" -> ((s: SparkSession, dir: String) => {
      def ilog2(c: org.apache.spark.sql.Column) = length(bin(c)) - 1
      val tf = TextOps.tokenIndexFor(s, dir)
        .groupBy("token").agg(sum(col("tf")).as("ctf"))
      val bins = tf.select(ilog2(col("ctf")).cast("long").as("b"), col("ctf"))
        .groupBy("b")
        .agg(asLong(count(lit(1))).as("n_types"),
          asLong(sum(col("ctf"))).as("n_occurrences"))
      val fit = bins
        .select(col("b").as("x"), ilog2(col("n_types")).cast("long").as("y"))
        .agg(asLong(count(lit(1))).as("m"),
          asLong(sum("x")).as("sx"), asLong(sum("y")).as("sy"),
          asLong(sum(expr("x * x"))).as("sxx"),
          asLong(sum(expr("x * y"))).as("sxy"))
        .selectExpr(zipfSlopeFormula)
      bins.crossJoin(broadcast(fit)).orderBy("b")
    }),

    // Bigram language-model statistics — the count-based n-gram LM training
    // pass of a data pipeline: per adjacent token pair, corpus count,
    // left-context count, and the conditional probability p(w2|w1) as ONE
    // exact integer division (IEEE-correctly-rounded, so the hash gate
    // holds; no log-space math, which would be libm-dependent).
    "q_llm_ngram_lm" -> ((s: SparkSession, dir: String) => {
      val bigrams = table(s, dir, "documents")
        .withColumn("toks", expr("filter(split(text, ' '), t -> length(t) > 0)"))
        .where(size(col("toks")) >= 2)
        .select(explode(expr(
          """zip_with(slice(toks, 1, size(toks) - 1),
            |         slice(toks, 2, size(toks) - 1),
            |         (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
      c12.join(c1, "w1")
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          (col("c12").cast("double") / col("c1")).as("p"))
        .orderBy(desc("c12"), asc("w1"), asc("w2"))
        .limit(100)
    }),

    // Per-document novelty scoring against the corpus bigram LM — the
    // "boilerplate vs novel text" ranking signal of a curation pipeline:
    // per doc, total bigram occurrences, distinct bigrams, and occurrences
    // whose corpus count is 1 (transitions unique to this doc). All counts
    // are exact BIGINTs; novelty_rate is ONE long/long IEEE division, so
    // the hash gate holds (a log-probability score would be libm-dependent,
    // rejected — same discipline as q_text_repetition). The corpus-count
    // rejoin is an equi-join on the bigram itself: count relation rows =
    // #distinct bigrams, shuffle bounded by token count, never pairs.
    "q_llm_doc_lm_score" -> ((s: SparkSession, dir: String) =>
      // r16: rides the widened qbScoreFor memo (one bigram pass shared
      // with quality_buckets / curriculum / pareto_prune per session);
      // the selected lm columns and the recomputed division are exactly
      // docLmScore's output (the memo's inner join on doc_id preserves
      // its row set). The Pipelines primitive docLmScore is unchanged.
      qbScoreFor(table(s, dir, "documents"),
        Some(SourceSinkOps.fixtureKey(dir, "documents.parquet")))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
          col("n_singleton"),
          (col("n_singleton").cast("double") / col("n_bigrams"))
            .as("novelty_rate"))
        .orderBy("doc_id")),

    // CCNet-style per-lang head/middle/tail buckets on the integer LM
    // novelty score — see [[qualityBuckets]] (valueAtRanks cuts, never a
    // per-lang rank window). ORDER BY (lang, bucket) is total: buckets
    // are distinct within a lang by construction.
    "q_llm_quality_buckets" -> ((s: SparkSession, dir: String) =>
      qualityBuckets(table(s, dir, "documents"),
        Some(SourceSinkOps.fixtureKey(dir, "documents.parquet")))
        .orderBy("lang", "bucket")),

    // Fixed-weight LOGISTIC quality scorer (r12c3) — the model-shaped
    // complement to the gopher rule gate: a per-doc sigmoid score from
    // interpretable features (type-token ratio, mean word length, doc
    // length), the shape a fasttext-style quality classifier head takes
    // at inference. The whole scorer REPLAYS bit-exactly: features are
    // single divisions over exact BIGINTs, the clamped logit is one
    // fixed-order chain, and e^(−|z|) is the abtest Taylor+squaring
    // kernel (expNegStages — exp is BUILT, not called; libm never runs).
    // Weights are fixed constants by declaration (training the head is a
    // learning problem, not a query). Scale: one agg over the memoized
    // token index; everything after is per-doc projections off the scan.
    "q_llm_quality_logit" -> ((s: SparkSession, dir: String) => {
      val ft = TextOps.tokenIndexFor(s, dir)
        .groupBy("doc_id")
        .agg(asLong(sum("tf")).as("dl"),
          asLong(count(lit(1))).as("types"),
          asLong(sum(expr("length(token) * tf"))).as("chars"))
      qualityLogitStages.foldLeft(ft) { case (df, (nm, f)) =>
        df.selectExpr(df.columns.toIndexedSeq :+ s"$f AS $nm": _*)
      }
        .select(col("doc_id"), col("dl"), col("types"), col("chars"),
          col("ttr"), col("mwl"), col("z"), col("q_score"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition/shape rules (Rae et al. 2021 §A1.1, r11):
    // per doc — token count bounds, mean token length band, alphabetic
    // token share, top-bigram occupancy, duplicate-bigram occupancy —
    // composed into one keep verdict, the rule-based quality gate a
    // pretraining pipeline runs before any model-based scoring.
    // Thresholds are fixture-calibrated (every rule fires on some docs;
    // composite keeps 304/500 at sf0.01) with the papers' STRUCTURE.
    // Replay: every rule is an exact INTEGER cross-multiplication (5·sl ≤
    // 24·n, 10·mx ≤ tot, …) — no FP in any verdict; the reported ratio
    // columns are single int/int IEEE divisions. Scale: token stats ride
    // the memoized token index; bigram stats are per-doc hash aggs whose
    // exchanges sit above map-side partials (the ngram_lm shape — never
    // a raw-corpus shuffle). Docs with zero tokens drop out (declared);
    // single-token docs pass the bigram rules vacuously via the left
    // join's coalesce-to-0.
    "q_llm_gopher_quality" -> ((s: SparkSession, dir: String) => {
      val t = TextOps.tokenIndexFor(s, dir)
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n"),
          sum(col("tf") * length(col("token"))).as("sl"),
          sum(when(col("token").rlike("[a-z]"), col("tf")).otherwise(0L)).as("al"))
      val bg = table(s, dir, "documents")
        .withColumn("ts", expr("filter(split(text, ' '), t -> length(t) > 0)"))
        .where(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(expr(
          """zip_with(slice(ts, 1, size(ts) - 1),
            |         slice(ts, 2, size(ts) - 1),
            |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("b"))
      val bstats = bg.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup"))
      t.join(bstats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n"), col("sl"), col("al"),
          coalesce(col("mx"), lit(0L)).as("mx"),
          coalesce(col("tot"), lit(0L)).as("tot"),
          coalesce(col("dup"), lit(0L)).as("dup"))
        .selectExpr("doc_id", "CAST(n AS BIGINT) AS n_tokens",
          "CAST(sl AS DOUBLE) / n AS mean_tok_len",
          "CAST(al AS DOUBLE) / n AS alpha_frac",
          "CASE WHEN tot > 0 THEN CAST(mx AS DOUBLE) / tot END AS top_bigram_frac",
          "CASE WHEN tot > 0 THEN CAST(dup AS DOUBLE) / tot END AS dup_bigram_frac",
          "CAST(CASE WHEN n BETWEEN 20 AND 80 AND 3 * n <= sl AND 5 * sl <= 24 * n" +
            " AND 5 * al >= 4 * n AND 10 * mx <= tot AND 8 * dup <= tot" +
            " THEN 1 ELSE 0 END AS BIGINT) AS keep")
        .orderBy("doc_id")
    }),

    // Collocation extraction: top-100 bigrams by integer POINTWISE-LIFT
    // score c12·N·10⁶ div (c1·c2) (the log of which is PMI — log is libm-
    // divergent across engines, the monotone integer ratio is not) with
    // min-support 5. The shuffle discipline throughout: every counting
    // exchange carries 60-bit shingle DIGESTS (kb/k1/k2 longs), never the
    // bigram string; the string is recovered ONLY for the 100 winners via
    // a broadcast-semi-filtered agg whose exchange carries ≤ top-k rows
    // per partition after the map-side partial. The aggs shrink before
    // any shuffle, so the exploded frame is deliberately NOT checkpointed
    // (the ngram_lm re-explode measurement). Overflow bound: lift ≤
    // N·10⁶/minsup < 2^63 up to ~4.6e13 corpus bigrams (~20T-token
    // corpora — 100 TB of text — stay in range; beyond that drop the ppm
    // scale a decade).
    "q_llm_collocations" -> ((s: SparkSession, dir: String) => {
      graft.functions.GraftFunctions.register(s)
      val bg = table(s, dir, "documents")
        .withColumn("toks", expr("filter(split(text, ' '), t -> length(t) > 0)"))
        .where(size(col("toks")) >= 2)
        .select(explode(expr(
          """zip_with(slice(toks, 1, size(toks) - 1),
            |         slice(toks, 2, size(toks) - 1),
            |         (a, b) -> named_struct('w1', a, 'w2', b))""".stripMargin))
          .as("p"))
        .select(
          call_function("shingle_key",
            concat(col("p.w1"), lit(" "), col("p.w2"))).as("kb"),
          call_function("shingle_key", col("p.w1")).as("k1"),
          call_function("shingle_key", col("p.w2")).as("k2"),
          concat(col("p.w1"), lit(" "), col("p.w2")).as("bgr"))
      // r15 (optimization): ONE corpus explode feeds every count — the
      // per-occurrence frame is first aggregated by the digest TRIPLE
      // (map-side combinable, no strings on the exchange), then c12 / c1 /
      // c2 / nb re-aggregate the tiny distinct-bigram relation. Two-stage
      // aggregation is exactly the occurrence-level grouping (each
      // occurrence carries its (kb, k1, k2), so Σ over the triple groups
      // ≡ the direct count per any sub-key — collision-indifferent, the
      // r12c3 group-by-digest rule). Previously each of the four counts
      // re-exploded and re-hashed the corpus (5 scans total with names).
      // r16: the digest build itself now comes from the shared
      // TextOps.bigramDigestFor memo (identical bigram multiset, one
      // extra source key summed away here) — the corpus digest pass is
      // amortized with q_text_cond_entropy; bg survives only for the
      // broadcast-filtered top-100 string recovery below.
      val g = TextOps.bigramDigestFor(s, dir)
        .groupBy("kb", "k1", "k2").agg(sum(col("c")).as("c"))
        .localCheckpoint(true)
      val c12 = g.groupBy("kb").agg(sum(col("c")).as("c12"),
          min(col("k1")).as("k1"), min(col("k2")).as("k2"))
        .where(col("c12") >= CollMinSupport)
      val c1 = g.groupBy("k1").agg(sum(col("c")).as("c1"))
      val c2 = g.groupBy("k2").agg(sum(col("c")).as("c2"))
      val nb = g.agg(sum(col("c")).as("nb"))
      val top = c12.join(c1, "k1").join(c2, "k2").crossJoin(broadcast(nb))
        .withColumn("lift_ppm", expr(
          "(CAST(c12 AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0)) * 1000000)" +
            " div (CAST(c1 AS DECIMAL(38,0)) * CAST(c2 AS DECIMAL(38,0)))"))
        .orderBy(desc("lift_ppm"), asc("kb")).limit(CollTopK)
      val names = bg.join(broadcast(top.select("kb")), "kb")
        .groupBy("kb").agg(min(col("bgr")).as("bigram"))
      top.join(broadcast(names), "kb")
        .select(col("bigram"), col("kb"), asLong(col("c12")).as("c12"),
          asLong(col("c1")).as("c1"), asLong(col("c2")).as("c2"),
          col("lift_ppm"))
        .orderBy(desc("lift_ppm"), asc("kb"))
    }),

    // Pareto-frontier curation prune: keep exactly the docs NOT dominated
    // by a (cleaner, longer) alternative — minimize the LM-novelty ppm
    // (CCNet head = low singleton-bigram rate), maximize n_chars. A doc is
    // dominated iff some doc has ppm ≤ AND n_chars ≥ with one strict.
    // Shape: the frontier needs only the per-ppm max length plus its
    // STRICT prefix max in ppm order — and the distinct-ppm relation is
    // VALUE-DOMAIN-bounded (ppm ∈ [0, 10^6] by construction), so the one
    // single-partition window runs over ≤ 10^6+1 aggregated rows at ANY
    // corpus size (the simhash 2^16 rule) and sits above a hash agg
    // (PlanAudit rule 2). The corpus-sized side only does one hash agg and
    // one broadcast-frontier rejoin — no pair enumeration anywhere. Docs
    // with < 2 tokens have no bigram distribution and are out of scope
    // (the q_llm_doc_lm_score row set).
    "q_llm_pareto_prune" -> ((s: SparkSession, dir: String) => {
      val sc = qbScoreFor(table(s, dir, "documents"),
        Some(SourceSinkOps.fixtureKey(dir, "documents.parquet")))
      val gmax = sc.groupBy("ppm").agg(max(col("n_chars")).as("gmax"))
      val fr = gmax.withColumn("m1", max(col("gmax")).over(
        Window.orderBy("ppm").rowsBetween(Window.unboundedPreceding, -1)))
      sc.join(broadcast(fr), "ppm")
        .where(col("n_chars") === col("gmax") &&
          (col("m1").isNull || col("n_chars") > col("m1")))
        .select(col("doc_id"), col("lang"), col("ppm"), col("n_chars"))
        .orderBy("ppm", "doc_id")
    }),

    // Balanced shard assignment (8 shards) for training-data file layout —
    // see [[shardPack]] (snake draft over the skew-proof size rank).
    "q_llm_shard_pack" -> ((s: SparkSession, dir: String) =>
      shardPack(table(s, dir, "documents"), 8).orderBy("shard")),

    // Deterministic easy→hard curriculum order over the LM-novelty score —
    // see [[curriculumOrder]] (globalRowNumber over (ppm, doc_id)).
    "q_llm_curriculum" -> ((s: SparkSession, dir: String) =>
      curriculumOrder(table(s, dir, "documents"),
        Some(SourceSinkOps.fixtureKey(dir, "documents.parquet")))
        .orderBy("train_order")),

    // Quantized-DSIR data-selection importance weights vs the src0 target
    // domain — see [[importanceWeights]] for the integer-log2 replay
    // rationale and the shuffle discipline.
    "q_llm_importance_weights" -> ((s: SparkSession, dir: String) =>
      importanceWeights(s, table(s, dir, "documents")).orderBy("doc_id")),

    // Dataset card: the one-row release summary a curated corpus ships —
    // corpus size, vocabulary-bearing token mass, language/source
    // diversity, exact-duplicate rate, and length statistics. Every field
    // is a map-side-combinable aggregate over ONE corpus scan (token
    // counts via scan-side size(filter(split)), duplicate groups via a
    // sha2-digest hash agg — no text on any exchange), assembled with
    // broadcast 1-row crossJoins; rates are single IEEE divisions over
    // exact BIGINTs.
    "q_llm_dataset_card" -> ((s: SparkSession, dir: String) =>
      datasetCard(table(s, dir, "documents"))),

    // Reciprocal-rank fusion of two retrieval signals — the top-20 docs
    // fusing the BM25 relevance list (TextOps.bm25Doc, fixed 4-term query)
    // with the LM-cleanliness list (ascending qbScoreFor ppm) via classic
    // RRF: Σ 1/(60 + rank) over the lists the doc appears in. Scale: each
    // list is cut to its top-100 FIRST (TakeOrderedAndProject at any
    // corpus size), so the rank windows and the full-outer fusion join run
    // over ≤ 100-row constant-bounded relations — never a global rank over
    // unbounded doubles (globalRowNumber is unnecessary
    // when only a bounded head fuses). Both ranks are tie-broken by doc_id
    // and the two RRF addends evaluate in fixed list order.
    "q_text_rank_fusion" -> ((s: SparkSession, dir: String) => {
      val a = TextOps.bm25DocFor(s, dir)
        .orderBy(desc("bm25"), asc("doc_id")).limit(RrfK)
        .select(col("doc_id"), row_number().over(
          Window.orderBy(desc("bm25"), asc("doc_id"))).cast("long").as("ra"))
      val b = qbScoreFor(table(s, dir, "documents"),
          Some(SourceSinkOps.fixtureKey(dir, "documents.parquet")))
        .orderBy(asc("ppm"), asc("doc_id")).limit(RrfK)
        .select(col("doc_id"), row_number().over(
          Window.orderBy(asc("ppm"), asc("doc_id"))).cast("long").as("rb"))
      rrfFuse(a, b)
    }),

    // First BPE merge iteration (tokenizer fitting): corpus-wide adjacent
    // character-pair frequencies, top-100. The classic BPE counting shape:
    // collapse to the token-count relation FIRST (one corpus pass, vocab-
    // bounded output), then explode character pairs of DISTINCT tokens
    // weighted by multiplicity — at 100 TB the pair stage's input is
    // #distinct-tokens rows regardless of corpus size. The top-K is an
    // orderBy+limit (TakeOrderedAndProject), never a global window.
    "q_llm_bpe_pairs" -> ((s: SparkSession, dir: String) => {
      val tc = table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("n"))
      tc.where(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
          .as("pair"), col("n"))
        .groupBy("pair").agg(asLong(sum(col("n"))).as("pair_count"))
        .orderBy(desc("pair_count"), asc("pair"))
        .limit(100)
    }),

    // BPE TRAINING, three full merge iterations (r9) — the capstone over
    // q_llm_bpe_pairs' single counting pass: per iteration, the most
    // frequent adjacent symbol pair (weighted by token multiplicity,
    // ties to the lexicographically first pair) is merged into one symbol
    // EVERYWHERE before the next count. Everything after the first
    // token-count aggregation runs on the DISTINCT-token symbol relation
    // (vocab-bounded at ANY corpus size — the corpus is scanned exactly
    // once), and each iteration's top pair is one 1-row driver action,
    // the dupClusters labelSum discipline. Merging uses a boundary-safe
    // double-separator encoding ("␁␁a␁␁b␁␁"): the pattern
    // "␁p1␁␁p2␁" -> "␁p1p2␁" leaves one separator on each flank, so
    // plain left-to-right non-overlapping replace() — identical
    // semantics in Spark and DuckDB — IS the BPE merge (consecutive
    // overlapping occurrences like "a b a b" merge correctly to
    // "ab ab", and multi-char symbols can never false-match inside a
    // neighbor). The oracle unrolls the same three iterations as CTE
    // stages with scalar-subquery merges.
    "q_llm_bpe_train" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      bpeMergesFor(s, dir)._1
        .toDF("merge_rank", "p1", "p2", "pair_count")
        .orderBy("merge_rank")
    }),

    // BPE ENCODE (r9) — the consuming side of q_llm_bpe_train: apply the
    // three learned merges to every document and report per-doc token /
    // symbol counts and the chars-per-symbol compression the tokenizer
    // buys. Scale shape: the merge loop runs once on the vocab-bounded
    // symbol relation (identical algorithm to the trainer); the per-token
    // post-merge symbol count is then a VOCAB-SIZED map broadcast into the
    // per-doc token explode — the corpus-sized side never shuffles a token
    // string (the groupBy(doc_id) exchange carries partial sums only), and
    // the encode pass itself is stateless scan-side work at any scale.
    "q_llm_bpe_encode" -> ((s: SparkSession, dir: String) =>
      bpeEncodeFrame(table(s, dir, "documents"), bpeMergesFor(s, dir)._2)
        .orderBy("doc_id")),

    // Tokenizer-fairness audit: per-language fertility (symbols per
    // whitespace token) and compression (chars per symbol) under the
    // corpus-trained BPE vocab — the disparity report multilingual
    // tokenizer work grades on (a language with higher fertility pays
    // more sequence length for the same text). Same memoized merge loop
    // and broadcast-vocab join as q_llm_bpe_encode; one more map-side-
    // combinable agg, keyed by lang instead of doc.
    "q_llm_tok_fertility" -> ((s: SparkSession, dir: String) => {
      val vocab = bpeMergesFor(s, dir)._2.select(col("tok"),
        size(bpeSymsCol).cast("long").as("tok_syms"),
        length(col("tok")).cast("long").as("tok_chars"))
      table(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .where(length(col("tok")) > 0)
        .join(broadcast(vocab), "tok")
        .groupBy("lang")
        .agg(asLong(count(lit(1))).as("n_tokens"),
          asLong(sum(col("tok_syms"))).as("n_syms"),
          asLong(sum(col("tok_chars"))).as("n_chars_tok"))
        .select(col("lang"), col("n_tokens"), col("n_syms"), col("n_chars_tok"),
          (col("n_syms").cast("double") / col("n_tokens")).as("fertility"),
          (col("n_chars_tok").cast("double") / col("n_syms")).as("chars_per_sym"))
        .orderBy("lang")
    })
  )

  def oracle: Seq[(String, String)] = Seq(

    "q_text_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tfq AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok
        |  WHERE length(token) > 0 GROUP BY doc_id, token),
        |dfq AS (SELECT token, count(*) AS df FROM tfq GROUP BY token),
        |nq AS (SELECT count(*) AS n FROM documents),
        |sc AS (
        |  SELECT tfq.doc_id, tfq.token, tfq.tf, dfq.df,
        |         CAST(tfq.tf * (nq.n + 1) AS DOUBLE) / (dfq.df + 1) AS tfidf,
        |         row_number() OVER (
        |           PARTITION BY tfq.doc_id
        |           ORDER BY CAST(tfq.tf * (nq.n + 1) AS DOUBLE) / (dfq.df + 1) DESC,
        |                    tfq.token ASC) AS rn
        |  FROM tfq JOIN dfq USING (token) CROSS JOIN nq)
        |SELECT doc_id, token, tf, df, tfidf
        |FROM sc WHERE rn <= 3 ORDER BY doc_id, token""".stripMargin,

    "q_text_vocab" ->
      """SELECT token, count(*) AS tf_corpus, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token
        |ORDER BY tf_corpus DESC, token ASC
        |LIMIT 100""".stripMargin,

    "q_text_burstiness" ->
      """WITH tfq AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE length(token) > 0 GROUP BY doc_id, token),
        |st AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df,
        |         CAST(sum(tf) AS BIGINT) AS sum_tf,
        |         CAST(sum(tf * tf) AS BIGINT) AS sum_tf2,
        |         CAST(max(tf) AS BIGINT) AS max_tf
        |  FROM tfq GROUP BY token),
        |nq AS (SELECT count(*) AS n FROM documents)
        |SELECT token, df, sum_tf, max_tf,
        |       CAST(n * sum_tf2 - sum_tf * sum_tf AS DOUBLE)
        |         / CAST(n * sum_tf AS DOUBLE) AS burstiness
        |FROM st CROSS JOIN nq
        |WHERE df >= 5
        |ORDER BY burstiness DESC, token ASC
        |LIMIT 50""".stripMargin,

    "q_text_hapax" ->
      """WITH tok AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE length(token) > 0 GROUP BY doc_id, token),
        |st AS (
        |  SELECT d.source, t.token, CAST(sum(t.tf) AS BIGINT) AS stf
        |  FROM tok t JOIN documents d USING (doc_id)
        |  GROUP BY d.source, t.token)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |       CAST(sum(stf) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN stf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |       CAST(sum(CASE WHEN stf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
        |       CAST(count(*) AS DOUBLE) / CAST(sum(stf) AS BIGINT) AS ttr,
        |       CAST(sum(CASE WHEN stf = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS hapax_share
        |FROM st GROUP BY source ORDER BY source""".stripMargin,

    "q_text_stem_vocab" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, token, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
         |    FROM documents)
         |  WHERE length(token) > 0 GROUP BY doc_id, lang, token),
         |ty AS (
         |  SELECT lang, token, CAST(sum(tf) AS BIGINT) AS tfl
         |  FROM tok GROUP BY lang, token),
         |s1 AS (SELECT lang, token, tfl, $stemStage1Formula FROM ty),
         |s2 AS (SELECT lang, token, tfl, $stemStage2Formula FROM s1),
         |fam AS (
         |  SELECT lang, stem, count(*) AS nt, sum(tfl) AS tfs,
         |         sum(CASE WHEN stem <> token THEN 1 ELSE 0 END) AS nch
         |  FROM s2 GROUP BY lang, stem),
         |rep AS (
         |  SELECT lang, CAST(sum(nt) AS BIGINT) AS n_types,
         |         CAST(count(*) AS BIGINT) AS n_stems,
         |         CAST(sum(nch) AS BIGINT) AS n_changed,
         |         CAST(max(nt) AS BIGINT) AS max_family,
         |         CAST(sum(tfs) AS BIGINT) AS tokens_total
         |  FROM fam GROUP BY lang)
         |SELECT lang, n_types, n_stems, n_changed, max_family, tokens_total,
         |       CAST(n_types AS DOUBLE) / CAST(n_stems AS DOUBLE)
         |         AS type_stem_ratio
         |FROM rep ORDER BY lang""".stripMargin,

    "q_llm_truncation" ->
      s"""WITH tok AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         |  WHERE length(token) > 0 GROUP BY doc_id)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN coalesce(tok.dl, 0) > $TruncMaxCtx THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
         |       CAST(sum(coalesce(tok.dl, 0)) AS BIGINT) AS tokens_total,
         |       CAST(sum(greatest(coalesce(tok.dl, 0) - $TruncMaxCtx, 0)) AS BIGINT) AS tokens_lost,
         |       CAST(sum(greatest(coalesce(tok.dl, 0) - $TruncMaxCtx, 0)) AS DOUBLE)
         |         / sum(coalesce(tok.dl, 0)) AS share_lost
         |FROM documents d LEFT JOIN tok USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "q_text_zipf" ->
      s"""WITH tok AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS ctf FROM (
         |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         |  WHERE length(token) > 0 GROUP BY token),
         |bins AS MATERIALIZED (
         |  SELECT CAST(length(bin(ctf)) - 1 AS BIGINT) AS b,
         |         CAST(count(*) AS BIGINT) AS n_types,
         |         CAST(sum(ctf) AS BIGINT) AS n_occurrences
         |  FROM tok GROUP BY 1),
         |pts AS (
         |  SELECT b AS x, CAST(length(bin(n_types)) - 1 AS BIGINT) AS y
         |  FROM bins),
         |fit AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(x * x) AS BIGINT) AS sxx,
         |         CAST(sum(x * y) AS BIGINT) AS sxy
         |  FROM pts)
         |SELECT b, n_types, n_occurrences, $zipfSlopeFormula
         |FROM bins CROSS JOIN fit ORDER BY b""".stripMargin,

    "q_llm_ngram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |b AS MATERIALIZED (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY w1)
        |SELECT c12.w1, c12.w2, c12.c12, c1.c1,
        |       CAST(c12.c12 AS DOUBLE) / c1.c1 AS p
        |FROM c12 JOIN c1 USING (w1)
        |ORDER BY c12 DESC, w1 ASC, w2 ASC LIMIT 100""".stripMargin,

    "q_llm_doc_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |b AS MATERIALIZED (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(count(DISTINCT w1 || ' ' || w2) AS BIGINT) AS n_distinct,
        |       CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
        |       CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty_rate
        |FROM b JOIN c12 USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // d is read by both the token and bigram branches -> MATERIALIZED.
    // Verdict rules are exact integer cross-multiplications on both
    // sides; only the reported ratio columns divide (one int/int IEEE
    // division each).
    "q_llm_gopher_quality" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ts
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(length(tok)) AS BIGINT) AS sl,
        |         CAST(sum(CASE WHEN regexp_matches(tok, '[a-z]') THEN 1 ELSE 0 END) AS BIGINT) AS al
        |  FROM (SELECT doc_id, unnest(ts) AS tok FROM d) GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS b
        |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        |        FROM d WHERE len(ts) >= 2)),
        |c AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
        |s AS (
        |  SELECT doc_id, CAST(max(c) AS BIGINT) AS mx, CAST(sum(c) AS BIGINT) AS tot,
        |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup
        |  FROM c GROUP BY doc_id),
        |j AS (
        |  SELECT t.doc_id, n, sl, al, COALESCE(mx, 0) AS mx,
        |         COALESCE(tot, 0) AS tot, COALESCE(dup, 0) AS dup
        |  FROM t LEFT JOIN s ON t.doc_id = s.doc_id)
        |SELECT doc_id, n AS n_tokens,
        |       CAST(sl AS DOUBLE) / n AS mean_tok_len,
        |       CAST(al AS DOUBLE) / n AS alpha_frac,
        |       CASE WHEN tot > 0 THEN CAST(mx AS DOUBLE) / tot END AS top_bigram_frac,
        |       CASE WHEN tot > 0 THEN CAST(dup AS DOUBLE) / tot END AS dup_bigram_frac,
        |       CAST(CASE WHEN n BETWEEN 20 AND 80 AND 3 * n <= sl AND 5 * sl <= 24 * n
        |                  AND 5 * al >= 4 * n AND 10 * mx <= tot AND 8 * dup <= tot
        |            THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM j ORDER BY doc_id""".stripMargin,

    "q_llm_quality_logit" -> {
      val stageCtes = qualityLogitStages.zipWithIndex.map { case ((nm, f), i) =>
        val src = if (i == 0) "ft" else s"qls${i - 1}"
        s"qls$i AS (SELECT *, $f AS $nm FROM $src)"
      }.mkString(",\n")
      val last = s"qls${qualityLogitStages.length - 1}"
      s"""WITH tok AS (
         |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |    FROM documents)
         |  WHERE length(token) > 0 GROUP BY doc_id, token),
         |ft AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl,
         |         CAST(count(*) AS BIGINT) AS types,
         |         CAST(sum(length(token) * tf) AS BIGINT) AS chars
         |  FROM tok GROUP BY doc_id),
         |$stageCtes
         |SELECT doc_id, dl, types, chars, ttr, mwl, z, q_score
         |FROM $last ORDER BY doc_id""".stripMargin
    },

    "q_llm_quality_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |b AS MATERIALIZED (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
        |sc AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) * 1000000
        |              // count(*) AS BIGINT) AS ppm
        |  FROM b JOIN c12 USING (w1, w2) GROUP BY doc_id),
        |s AS MATERIALIZED (
        |  SELECT d.lang, d.n_chars, sc.ppm
        |  FROM sc JOIN documents d USING (doc_id)),
        |rk AS (
        |  SELECT lang, ppm,
        |         row_number() OVER (PARTITION BY lang ORDER BY ppm) AS r,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM s),
        |cut AS (
        |  SELECT lang,
        |         max(CASE WHEN r = (n + 2) // 3 THEN ppm END) AS c1,
        |         max(CASE WHEN r = (2 * n + 2) // 3 THEN ppm END) AS c2
        |  FROM rk GROUP BY lang)
        |SELECT s.lang,
        |       CASE WHEN ppm <= c1 THEN 'head'
        |            WHEN ppm <= c2 THEN 'middle' ELSE 'tail' END AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(min(ppm) AS BIGINT) AS min_ppm,
        |       CAST(max(ppm) AS BIGINT) AS max_ppm
        |FROM s JOIN cut USING (lang)
        |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,

    "q_llm_collocations" -> {
      val RH = graft.functions.ReplayableHash
      s"""WITH t AS (
         |  SELECT list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
         |  FROM documents),
         |b AS (
         |  SELECT toks[i] AS w1, toks[i + 1] AS w2,
         |         toks[i] || ' ' || toks[i + 1] AS bgr
         |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |        FROM t WHERE len(toks) >= 2)),
         |k AS MATERIALIZED (
         |  SELECT ${RH.shingleKeySql("bgr")} AS kb,
         |         ${RH.shingleKeySql("w1")} AS k1,
         |         ${RH.shingleKeySql("w2")} AS k2,
         |         bgr
         |  FROM b),
         |c12 AS (
         |  SELECT kb, min(k1) AS k1, min(k2) AS k2, min(bgr) AS bigram,
         |         count(*) AS c12
         |  FROM k GROUP BY kb HAVING count(*) >= $CollMinSupport),
         |c1 AS (SELECT k1, count(*) AS c1 FROM k GROUP BY k1),
         |c2 AS (SELECT k2, count(*) AS c2 FROM k GROUP BY k2),
         |n AS (SELECT count(*) AS nb FROM k)
         |SELECT c12.bigram, c12.kb,
         |       CAST(c12.c12 AS BIGINT) AS c12,
         |       CAST(c1.c1 AS BIGINT) AS c1,
         |       CAST(c2.c2 AS BIGINT) AS c2,
         |       CAST((CAST(c12.c12 AS HUGEINT) * nb * 1000000)
         |            // (CAST(c1.c1 AS HUGEINT) * c2.c2) AS BIGINT) AS lift_ppm
         |FROM c12 JOIN c1 USING (k1) JOIN c2 USING (k2) CROSS JOIN n
         |ORDER BY lift_ppm DESC, kb LIMIT $CollTopK""".stripMargin
    },

    "q_llm_pareto_prune" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |b AS MATERIALIZED (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
        |sc AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) * 1000000
        |              // count(*) AS BIGINT) AS ppm
        |  FROM b JOIN c12 USING (w1, w2) GROUP BY doc_id),
        |sd AS MATERIALIZED (
        |  SELECT sc.doc_id, d.lang, d.n_chars, sc.ppm
        |  FROM sc JOIN documents d USING (doc_id)),
        |g AS (SELECT ppm, max(n_chars) AS gmax FROM sd GROUP BY ppm),
        |f AS (
        |  SELECT ppm, gmax,
        |         max(gmax) OVER (ORDER BY ppm
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1
        |  FROM g)
        |SELECT sd.doc_id, sd.lang, sd.ppm, CAST(sd.n_chars AS BIGINT) AS n_chars
        |FROM sd JOIN f USING (ppm)
        |WHERE sd.n_chars = f.gmax AND (f.m1 IS NULL OR sd.n_chars > f.m1)
        |ORDER BY ppm, doc_id""".stripMargin,

    "q_llm_shard_pack" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |         row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
        |  FROM documents),
        |a AS (
        |  SELECT n_chars,
        |         CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
        |              ELSE 7 - rk % 8 END AS shard
        |  FROM r)
        |SELECT shard,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(max(n_chars) AS BIGINT) AS max_chars,
        |       CAST(min(n_chars) AS BIGINT) AS min_chars
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin,

    "q_llm_curriculum" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |b AS MATERIALIZED (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
        |sc AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) * 1000000
        |              // count(*) AS BIGINT) AS ppm
        |  FROM b JOIN c12 USING (w1, w2) GROUP BY doc_id)
        |SELECT sc.doc_id, d.lang, sc.ppm,
        |       CAST(row_number() OVER (ORDER BY sc.ppm, sc.doc_id) AS BIGINT)
        |         AS train_order
        |FROM sc JOIN documents d USING (doc_id)
        |ORDER BY train_order""".stripMargin,

    "q_llm_importance_weights" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS bgr
         |  FROM (SELECT doc_id, source, toks,
         |               unnest(generate_series(1, len(toks) - 1)) AS i
         |        FROM t WHERE len(toks) >= 2)),
         |k AS MATERIALIZED (SELECT doc_id, source, ${graft.functions.ReplayableHash.shingleKeySql("bgr")} AS key
         |      FROM b),
         |c AS (SELECT key,
         |             CAST(count(*) AS BIGINT) AS c_all,
         |             CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) AS c_tgt
         |      FROM k GROUP BY key),
         |s AS (SELECT k.doc_id,
         |             CAST(count(*) AS BIGINT) AS n_bigrams,
         |             CAST(sum((length(bin(c_tgt + 1)) - 1)
         |                      - (length(bin(c_all + 1)) - 1)) AS BIGINT) AS iw_score
         |      FROM k JOIN c USING (key) GROUP BY k.doc_id)
         |SELECT d.doc_id, d.source,
         |       coalesce(s.n_bigrams, 0) AS n_bigrams,
         |       coalesce(s.iw_score, 0) AS iw_score
         |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q_llm_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (
        |  SELECT tok, count(*) AS n FROM toks
        |  WHERE length(tok) > 0 GROUP BY tok),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, CAST(length(tok) AS BIGINT)),
        |           i -> substring(tok, CAST(i AS INTEGER), 2))) AS pair, n
        |  FROM tc
        |  WHERE length(tok) >= 2)
        |SELECT pair, CAST(sum(n) AS BIGINT) AS pair_count
        |FROM pairs GROUP BY pair
        |ORDER BY pair_count DESC, pair LIMIT 100""".stripMargin,

    // unrolled BPE training twin: per iteration a pairs CTE over the
    // current symbol relation, a 1-row top-pair CTE, and a replace() merge
    // via scalar subqueries — the same boundary-safe double-separator
    // encoding as the engine, so the merge is bit-identical
    "q_llm_bpe_train" ->
      s"""WITH $bpeMergeStagesCte
         |SELECT CAST(1 AS BIGINT) AS merge_rank, p1, p2, CAST(c AS BIGINT) AS pair_count FROM m1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), p1, p2, CAST(c AS BIGINT) FROM m2
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), p1, p2, CAST(c AS BIGINT) FROM m3
         |ORDER BY merge_rank""".stripMargin,

    // encode twin: the same three merge stages, then the post-merge
    // per-token symbol counts (vocab CTE) joined back into the per-doc
    // token stream — integer counts + one IEEE division, hash-gates
    "q_llm_bpe_encode" ->
      s"""WITH $bpeMergeStagesCte,
         |$bpeVocabCte
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(tok_chars) AS BIGINT) AS n_chars_tok,
         |       CAST(sum(tok_syms) AS BIGINT) AS n_syms,
         |       CAST(sum(tok_chars) AS DOUBLE) / sum(tok_syms) AS chars_per_sym
         |FROM tf JOIN vocab USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_llm_tok_fertility" ->
      s"""WITH $bpeMergeStagesCte,
         |$bpeVocabCte
         |SELECT d.lang,
         |       CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(tok_syms) AS BIGINT) AS n_syms,
         |       CAST(sum(tok_chars) AS BIGINT) AS n_chars_tok,
         |       CAST(sum(tok_syms) AS DOUBLE) / count(*) AS fertility,
         |       CAST(sum(tok_chars) AS DOUBLE) / sum(tok_syms) AS chars_per_sym
         |FROM tf JOIN vocab USING (tok) JOIN documents d USING (doc_id)
         |GROUP BY d.lang ORDER BY lang""".stripMargin,

    "q_llm_dataset_card" ->
      """WITH base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |         CAST(sum(len(list_filter(string_split(text, ' '),
        |                                  x -> length(x) > 0))) AS BIGINT) AS n_tokens,
        |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents),
        |g AS (SELECT sha256(text) AS h, count(*) AS c FROM documents GROUP BY h),
        |dups AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_distinct_texts,
        |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_in_dup_groups
        |  FROM g)
        |SELECT n_docs, n_langs, n_sources, n_tokens, n_distinct_texts,
        |       CAST(n_docs - n_distinct_texts AS BIGINT) AS n_exact_dups,
        |       CAST(n_in_dup_groups AS DOUBLE) / n_docs AS dup_rate,
        |       CAST(n_tokens AS DOUBLE) / n_docs AS mean_tokens,
        |       CAST(sum_chars AS DOUBLE) / n_docs AS mean_chars
        |FROM base CROSS JOIN dups""".stripMargin,

    "q_text_rank_fusion" ->
      s"""WITH ${TextOps.bm25DocCte},
         |t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
         |  FROM documents),
         |b AS MATERIALIZED (
         |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |        FROM t WHERE len(toks) >= 2)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
         |sc AS (
         |  SELECT doc_id,
         |         CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) * 1000000
         |              // count(*) AS BIGINT) AS ppm
         |  FROM b JOIN c12 USING (w1, w2) GROUP BY doc_id),
         |la AS (
         |  SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS ra
         |  FROM bmdoc ORDER BY bm25 DESC, doc_id LIMIT $RrfK),
         |lb AS (
         |  SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY ppm, doc_id) AS BIGINT) AS rb
         |  FROM sc ORDER BY ppm, doc_id LIMIT $RrfK),
         |f AS (
         |  SELECT COALESCE(la.doc_id, lb.doc_id) AS doc_id, la.ra AS ra, lb.rb AS rb
         |  FROM la FULL OUTER JOIN lb ON la.doc_id = lb.doc_id)
         |SELECT doc_id, ra, rb, $rrfFormula
         |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
  )
}
