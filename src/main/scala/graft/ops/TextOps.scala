package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators (north star): language ID, quality scoring,
  * token counting, document fingerprinting.
  */
object TextOps extends QueryModule {

  private[graft] val Stopwords = Seq("the", "a", "and", "of", "to")

  /** q_text_scrub term pattern + placeholder. RE2-compatible (both Java
    * regex and DuckDB's RE2 agree on \b and plain alternation), so the
    * redacted bytes are identical across engines and the sha hash-gates. */
  private[graft] val SensitivePattern = "\\b(customer|vector|key)\\b"
  private[graft] val Redaction = "[REDACTED]"

  /** q_text_nfkc decoration table (r14): fixed compatibility prefixes
    * injected as a pure function of doc_id so the NFKC fold has real
    * work on the all-ASCII fixture. Index 0 is deliberately an NFKC
    * fixed point (exercises changed = false). Quote-free BMP strings
    * only (they travel as SQL literals). */
  private[graft] val NfkcDeco: IndexedSeq[String] = IndexedSeq(
    "plain", "ﬁnal ﬂow", "ｆｕｌｌｗｉｄｔｈ", "№①②③", "x²y³",
    "ｶﾞｷﾞｸﾞ", "½kg Ⅷ™", "ﬃcial")

  /** Expected NFKC of each [[NfkcDeco]] entry — the ground truth the
    * DuckDB oracle replays (DuckDB has no NFKC; the oracle literals are
    * GENERATED from this table, the mm-family split). */
  private[graft] lazy val NfkcDecoExpected: IndexedSeq[String] =
    NfkcDeco.map(java.text.Normalizer.normalize(_,
      java.text.Normalizer.Form.NFKC))

  /** q_text_lexicon_score category lexicons (r14) — the declared
    * keyword lists of the safety/domain filter shape (a production
    * pipeline swaps in its toxicity/PII/domain lists; the SHAPE — tiny
    * broadcast lexicon, per-doc hit mass, rate columns — is what the
    * operator pins). Both the engine relation and the oracle VALUES
    * are generated from this one table. Categories are declared in
    * OUTPUT COLUMN order. */
  private[graft] val Lexicons: Seq[(String, Seq[String])] = Seq(
    "performance" -> Seq("fast", "slow", "big", "small"),
    "relational" -> Seq("join", "filter", "agg", "group", "sort", "merge",
      "scan"),
    "storage" -> Seq("table", "column", "row", "key", "value"))

  /** Normalization (lowercase/trim/collapse-whitespace) + normalized-
    * exact-dup group sizes for an arbitrary (doc_id, text) frame — the
    * q_text_normalize primitive, exposed for [[graft.Pipelines]]. The
    * shuffle carries (len, sha256) digests, never the text. */
  private[graft] def normalizedDupGroups(docs: DataFrame): DataFrame = {
    val norm = regexp_replace(trim(lower(col("text"))), " +", " ")
    val hashed = docs
      .select(col("doc_id"),
        asLong(length(norm)).as("norm_len"),
        sha2(norm, 256).as("nhash"))
    val counts = hashed.groupBy("nhash").agg(count(lit(1)).as("n_same_norm"))
    hashed.join(counts, "nhash")
      .select(col("doc_id"), col("norm_len"), col("nhash"), col("n_same_norm"))
  }

  /** Polynomial rolling hash over the whole text (q_text_fingerprint) —
    * since round 4 the SQL-replayable mod-prime form (ReplayableHash), so
    * the fingerprint query graduates from spec-pinned to DuckDB-oracled.
    * Delegates to the codegen'd kernel (TextHashes) the query itself runs;
    * exposed for TextSpec's determinism / sensitivity properties. */
  private[graft] def fullHashFn(text: String): Long =
    graft.functions.ReplayableHash.tokenHash(text)

  /** Winnowing-style min-shingle hash: minimum polynomial hash over all
    * k=8-codepoint windows (whole-text hash for shorter inputs). For texts
    * of at least k chars, appending only ADDS windows, so the min can only
    * shrink — TextSpec checks that monotonicity. (Texts shorter than k
    * switch formulas at the k boundary, so the invariant starts there.)
    * Windows step over CODE POINTS, matching DuckDB's character indexing,
    * so the oracle replays it for any BMP+ text. */
  private[graft] def minShingleFn(text: String): Long =
    graft.functions.TextHashes.minShingle(
      org.apache.spark.unsafe.types.UTF8String.fromString(text), 8)

  /** Sensitive-term scrubbing — the q_text_scrub primitive. Returns
    * (doc_id, n_sensitive, clean_len, clean_sha); the scrubbed text itself
    * never leaves the scan (digest discipline). */
  private[graft] def scrub(docs: DataFrame,
      pattern: String = SensitivePattern,
      placeholder: String = Redaction): DataFrame =
    docs.select(col("doc_id"),
      asLong(size(regexp_extract_all(col("text"),
        lit(pattern), lit(0)))).as("n_sensitive"),
      asLong(length(regexp_replace(col("text"),
        pattern, placeholder))).as("clean_len"),
      sha2(regexp_replace(col("text"), pattern, placeholder), 256)
        .as("clean_sha"))

  /** Sensitive-content incidence per source — the q_text_pii_audit
    * primitive, exposed for [[graft.Pipelines]]: the aggregate report a
    * pipeline runs BEFORE scrubbing to decide which sources need it. */
  private[graft] def piiAudit(docs: DataFrame,
      pattern: String = SensitivePattern): DataFrame =
    docs
      .select(col("source"),
        regexp_count(col("text"), lit(pattern)).as("hits"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        asLong(sum(when(col("hits") > 0, 1L).otherwise(0L))).as("docs_with_hits"),
        asLong(sum(col("hits"))).as("total_hits"),
        asLong(max(col("hits"))).as("max_hits"))

  /** Winnowing parameters (q_text_winnow): k-gram width and the number of
    * consecutive k-gram hashes per selection window. Guarantee (SIGMOD'03):
    * any shared substring of ≥ w + k - 1 = 11 codepoints yields at least
    * one shared selected fingerprint — TextSpec pins it. */
  private[graft] val WinnowK = 8
  private[graft] val WinnowW = 4

  /** Winnowing fingerprint stats for an arbitrary (doc_id, text) frame —
    * the q_text_winnow primitive, exposed for [[graft.Pipelines]]. Per doc:
    * k-gram count, selected-fingerprint count, how many of its fingerprints
    * any other doc shares, and the corpus-wide occurrence count of its
    * most-shared fingerprint. Scale shape: digests leave the scan
    * (WinnowGenerator — no text on any exchange), fingerprint df via
    * map-side-combinable hash agg, and ONLY the nd>1 slice rejoins (misses
    * coalesce to 1) — on a mostly-unique corpus the rejoin side is the
    * shared-content volume, not O(#fingerprints). */
  private[graft] def winnowStats(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sel = docs.select(col("doc_id"),
      call_function("winnow_hashes", col("text"), lit(WinnowK), lit(WinnowW)))
    val shared = sel.groupBy("wh").agg(count(lit(1)).as("nd"))
      .where(col("nd") > 1)
    val per = sel.join(shared, Seq("wh"), "left")
      .groupBy("doc_id")
      .agg(asLong(count(lit(1))).as("n_selected"),
        asLong(sum(when(col("nd").isNotNull, 1L).otherwise(0L))).as("n_shared"),
        asLong(max(coalesce(col("nd"), lit(1L)))).as("max_shared"))
    docs.select(col("doc_id"),
        asLong(greatest(length(col("text")) - (WinnowK - 1), lit(0))).as("n_kgrams"))
      .join(per, Seq("doc_id"))
  }

  /** q_text_bm25: the fixed query terms (fixture mid-frequency vocabulary)
    * in term_id order — the per-doc score adds the per-term partials in
    * THIS order, so it is part of the replay contract. */
  private val Bm25Terms = Seq("spark", "hash", "merge", "window")

  /** Shared BM25 per-(doc, term) projection over (tf, df, dl, n, sdl) —
    * ONE formula string evaluated by both engines. LOG-FREE variant: the
    * rational idf (N − df + ½)/(df + ½) (scaled ×2 to stay integer-exact
    * before the one division) replaces ln(·) because ln is libm-dependent
    * and would break the bit-exact hash gate; it is a monotone transform of
    * classic BM25 idf, so rankings for a single term agree and the
    * saturation shape (k1 = 1.2, b = 0.75) is untouched. All BIGINT→DOUBLE
    * conversions stay < 2^53 ⇒ every step is IEEE-exact-rounded. Every
    * fractional literal is wrapped in CAST(… AS DOUBLE): a bare `1.2`
    * parses as DECIMAL(2,1) in BOTH engines, and their DECIMAL
    * division scale/rounding rules differ (measured: last-3-ulp drift at
    * sf0.01) — the idf numerator/denominator therefore stay in exact
    * BIGINT with ONE double division. */
  private val bm25TermFormula =
    "(CAST(2 * n - 2 * df + 1 AS DOUBLE) / (2 * df + 1))" +
      " * (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)" +
      " / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)" +
      " + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) * n / sdl)))) AS s"

  /** q_text_rake parameters: corpus-derived stopword count (top-N by
    * document frequency), max candidate phrase length, report size, and
    * the integer score scale. */
  private val RakeStops = 10
  private val RakeMaxLen = 4
  private val RakeTopK = 50
  private val RakeScale = 1000000L

  /** Non-empty whitespace tokens, with multiplicity. */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)

  /** Session-lifetime memo of the per-doc term-frequency index
    * `(doc_id, lang, token, tf)` — the inverted-index substrate shared by
    * langid / tfidf / the BM25 chain (rank fusion) / rake's stopword
    * derivation, keyed per (session, corpus content digest) like
    * CurationOps.dupClustersFor. One corpus explode + one token-keyed
    * aggregation is paid per session; every consumer then aggregates or
    * joins the far smaller distinct-(doc, token) relation. Exact-integer
    * tf counts, so every derived statistic (dl = Σtf, df = count,
    * corpus token total = Σtf) is bit-identical to a direct recount and
    * the DuckDB hash gate is untouched. The build's token-keyed exchange
    * sits above a map-side partial agg (PlanAudit 5b's bounded shape);
    * consumers joining the materialized leaf on the token string carry
    * their own declared exemptions. */
  private[graft] def tokenIndexFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "tokenIndex", SourceSinkOps.fixtureKey(dir, "documents.parquet")) {
      tokens(table(s, dir, "documents"))
        .groupBy("doc_id", "lang", "token").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
    }

  /** Session-lifetime memo of the corpus bigram DIGEST aggregate
    * `(source, kb, k1, k2, c)` — kb = shingle_key("w1 w2"), k1/k2 the
    * token digests, c the occurrence count (r16): the build (bigram
    * explode + 3 polynomial digests per occurrence over every document)
    * was the dominant cost of BOTH q_text_cond_entropy and
    * q_llm_collocations, each paying it per call. Both consumers
    * re-aggregate this leaf (sum over a finer grouping ≡ the direct
    * count per any sub-key — collision-indifferent, the r12c3
    * group-by-digest rule; cond_entropy's shingles(text,2) and
    * collocations' zip_with pairing produce the identical bigram
    * multiset: both split on ' ', drop empty tokens, join with one
    * space). Digests-only — no token string rides the exchange or the
    * checkpoint (rule 5b). */
  private[graft] def bigramDigestFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "bigramDigest", SourceSinkOps.fixtureKey(dir, "documents.parquet")) {
      graft.functions.GraftFunctions.register(s)
      table(s, dir, "documents")
        .withColumn("toks", expr("filter(split(text, ' '), t -> length(t) > 0)"))
        .where(size(col("toks")) >= 2)
        .select(col("source"), explode(expr(
          """zip_with(slice(toks, 1, size(toks) - 1),
            |         slice(toks, 2, size(toks) - 1),
            |         (a, b) -> named_struct('w1', a, 'w2', b))""".stripMargin))
          .as("p"))
        .select(col("source"),
          call_function("shingle_key",
            concat(col("p.w1"), lit(" "), col("p.w2"))).as("kb"),
          call_function("shingle_key", col("p.w1")).as("k1"),
          call_function("shingle_key", col("p.w2")).as("k2"))
        .groupBy("source", "kb", "k1", "k2").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
    }

  /** Per-doc language prediction (doc_id, lang, lang_guess) — the SINGLE
    * implementation behind q_text_langid and the r11b confusion-matrix
    * eval. r11: reads the memoized token index — the profile agg sums tf,
    * and the index rows ARE the per-doc distinct tokens, so the old
    * explode + distinct passes disappear on the warm path. (The r6
    * "no checkpoint" note covered materializing RAW token rows; the
    * tf-aggregated index is ~10× smaller and session-shared.) */
  private def langidOf(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val idx = tokenIndexFor(s, dir)
    val freq = idx.groupBy("lang", "token").agg(sum(col("tf")).as("c"))
    val prof = freq
      .withColumn("prof_rn", row_number().over(
        Window.partitionBy("lang").orderBy(desc("c"), asc("token"))))
      .where(col("prof_rn") <= 20)
      .select(col("lang").as("plang"), col("token"))
    // prof is ≤ 20×|langs| rows but sits on an RDD-leaf lineage (stats
    // unknown — the r7 rule), so the broadcast must be explicit
    val score = idx.select("doc_id", "token").join(broadcast(prof), "token")
      .groupBy("doc_id", "plang")
      .agg(count(lit(1)).as("s"))
    val best = score
      .withColumn("best_rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("s"), asc("plang"))))
      .where(col("best_rn") === 1)
      .select(col("doc_id"), col("plang").as("lang_guess"))
    docs.select("doc_id", "lang").join(best, Seq("doc_id"), "left")
  }

  def queries: Seq[(String, Q)] = Seq(
    // Language ID: per-language token profile (top-20 by frequency, built
    // from the corpus itself), score each doc by distinct-token overlap with
    // each profile, predict the argmax (ties broken by language asc).
    "q_text_langid" -> ((s: SparkSession, dir: String) =>
      langidOf(s, dir).orderBy("doc_id")),

    // Language-ID EVALUATION harness (r11b) — the confusion matrix +
    // per-lang share report next to the predictor itself (the third eval
    // harness after q_llm_ann_recall and q_llm_minhash_recall): per
    // (actual lang, predicted guess) cell the doc count, the lang's
    // total, the share (ONE int/int division), and a hit flag. Shares
    // ONE langidOf implementation (and one oracle CTE chain) with
    // q_text_langid so predictor and report cannot drift. Scale: the
    // matrix is a hash agg to ≤ langs² rows; lang totals broadcast.
    "q_text_langid_eval" -> ((s: SparkSession, dir: String) => {
      val m = langidOf(s, dir)
        .groupBy(col("lang"),
          coalesce(col("lang_guess"), lit("none")).as("guess"))
        .agg(asLong(count(lit(1))).as("n"))
      val tot = m.groupBy("lang").agg(asLong(sum(col("n"))).as("lang_total"))
      m.join(broadcast(tot), "lang")
        .select(col("lang"), col("guess"), col("n"), col("lang_total"),
          (col("n").cast("double") / col("lang_total")).as("share"),
          asLong((col("lang") === col("guess")).cast("long")).as("is_hit"))
        .orderBy("lang", "guess")
    }),

    // Quality scoring: stopword ratio + length score → composite quality.
    "q_text_quality" -> ((s: SparkSession, dir: String) => {
      val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
      table(s, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("n_stop",
          expr(s"size(filter(split(text, ' '), t -> t IN ($stopList)))"))
        .select(col("doc_id"),
          asLong(col("n_tokens")).as("n_tokens"),
          (col("n_stop") / col("n_tokens")).as("stop_ratio"),
          least(lit(1.0), col("n_chars") / 500.0).as("len_score"),
          (col("n_stop") / col("n_tokens") * 0.5
            + least(lit(1.0), col("n_chars") / 500.0) * 0.5).as("quality"))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens vs a BPE-ish regex segmentation.
    "q_text_tokens" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "documents")
        .withColumn("re_toks",
          expr("regexp_extract_all(text, '([a-z]+|[0-9]+|[^a-z0-9 ])', 1)"))
        .select(col("doc_id"),
          asLong(size(split(col("text"), " "))).as("n_ws_tokens"),
          asLong(size(col("re_toks"))).as("n_re_tokens"),
          (col("n_chars") / size(col("re_toks"))).as("chars_per_token"))
        .orderBy("doc_id")),

    // OOV analysis: per-doc out-of-vocabulary token rate against the
    // corpus top-30 vocabulary — the coverage metric a tokenizer pipeline
    // tracks. The tiny vocabulary is broadcast; the token stream joins it
    // without shuffling.
    "q_text_oov" -> ((s: SparkSession, dir: String) => {
      // r11: the per-call localCheckpoint became the session-shared token
      // index; occurrence counts ride the tf column (Σtf ≡ the old
      // per-occurrence count — exact BIGINTs, hash gate untouched)
      val idx = tokenIndexFor(s, dir).select("doc_id", "token", "tf")
      val vocab = idx.groupBy("token").agg(sum(col("tf")).as("tfc"))
        .orderBy(desc("tfc"), asc("token")).limit(30)
        .select(col("token"), lit(1L).as("in_vocab"))
      idx.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(asLong(sum(col("tf"))).as("n_tokens"),
          asLong(sum(col("tf"))
            - sum(col("tf") * coalesce(col("in_vocab"), lit(0L)))).as("n_oov"))
        .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
        .orderBy("doc_id")
    }),

    // Repetitiveness scoring — the "degenerate/repetitive document" signal
    // an LM-curation pipeline filters on: Simpson concentration index
    // Σ tf² / n² over the token distribution (1/n = perfectly diverse,
    // → 1 = one token repeated) plus the distinct-token ratio. All
    // accumulation is exact BIGINT; the two divisions are single
    // correctly-rounded IEEE ops, so the hash gate holds (the entropy
    // formulation would need log() — libm-dependent, rejected).
    "q_text_repetition" -> ((s: SparkSession, dir: String) =>
      tokenIndexFor(s, dir) // = the same (doc_id, token, tf) relation
        .groupBy("doc_id")
        .agg(asLong(sum(col("tf"))).as("n_tokens"),
          asLong(count(lit(1))).as("n_distinct"),
          asLong(sum(col("tf") * col("tf"))).as("sum_sq"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          (col("sum_sq").cast("double") / (col("n_tokens") * col("n_tokens")))
            .as("simpson"),
          (col("n_distinct").cast("double") / col("n_tokens")).as("distinct_ratio"))
        .orderBy("doc_id")),

    // Token-entropy diversity scoring — the Shannon-entropy quality signal
    // q_text_repetition's comment rejected as libm-dependent, made
    // replayable by the round-9 INTEGER-log2 quantization (the
    // q_llm_importance_weights trick): ent_proxy = n·ilog2(n) −
    // Σ tf·ilog2(tf) with ilog2(x) = length(bin(x))−1, exact BIGINT in
    // both engines (= Σ tf·(ilog2 n − ilog2 tf), entropy in floor-log2
    // quanta scaled by n). Tokens travel as the 60-bit shingle_key digest
    // (rule 5b); ent_rate is ONE IEEE division.
    "q_text_entropy" -> ((s: SparkSession, dir: String) => {
      graft.functions.GraftFunctions.register(s)
      val ent = (col("n_tokens") * (length(bin(col("n_tokens"))) - 1)
        - col("s_tlog"))
      tokens(table(s, dir, "documents"))
        .select(col("doc_id"),
          call_function("shingle_key", col("token")).as("key"))
        .groupBy("doc_id", "key").agg(count(lit(1)).as("tf"))
        .groupBy("doc_id")
        .agg(asLong(sum(col("tf"))).as("n_tokens"),
          asLong(count(lit(1))).as("n_distinct"),
          asLong(sum(col("tf") * (length(bin(col("tf"))) - 1))).as("s_tlog"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          asLong(ent).as("ent_proxy"),
          (ent.cast("double") / col("n_tokens")).as("ent_rate"))
        .orderBy("doc_id")
    }),

    // Text normalization + normalized-exact-dup grouping — the first pass
    // of a curation pipeline (lowercase, trim, collapse whitespace) and the
    // dup-group sizes it induces. The shuffle carries (len, sha256) — never
    // the normalized text itself — so the grouping cost is flat in document
    // size; group counts rejoin on the 256-bit digest (collision-free in
    // practice at any corpus scale).
    "q_text_normalize" -> ((s: SparkSession, dir: String) =>
      normalizedDupGroups(table(s, dir, "documents")).orderBy("doc_id")),

    // Unicode NFC normalization audit (r10) — the canonical-composition
    // pass a multilingual curation pipeline runs before any hash/dedup
    // step (decomposed e+◌́ must digest equal to precomposed é, or every
    // digest-keyed operator silently treats them as distinct docs).
    // Native codegen'd nfc_normalize expression (TextHashes.nfc; DuckDB's
    // utf8proc-backed nfc_normalize is the twin). One scan, no joins; the
    // output ships (changed flag, codepoint length, 128-bit digest
    // prefix) — never the normalized text (rule 5b). Idempotence and the
    // composition fixture are pinned in TextSpec.
    "q_text_unicode_norm" -> ((s: SparkSession, dir: String) => {
      graft.functions.GraftFunctions.register(s)
      table(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          call_function("nfc_normalize", col("text")).as("nfc"))
        .select(col("doc_id"),
          (col("nfc") =!= col("text")).as("changed"),
          length(col("nfc")).cast("long").as("len_nfc"),
          substring(sha2(col("nfc"), 256), 1, 16).as("sha16"))
        .orderBy("doc_id")
    }),

    // Unicode NFKC normalization audit (r11; hash-gated r14) — the
    // aggressive compatibility fold (ligatures, full-width forms,
    // circled digits) a multilingual pipeline applies when
    // compatibility variants must tokenize identically. DuckDB ships
    // only NFC, so the oracle rides the mm-family ground-truth split
    // (the q_mm_audio_chunks precedent): each doc gains a FIXED
    // compatibility prefix chosen by doc_id % |NfkcDeco|, the engine
    // runs the real codegen'd nfkc_normalize over the decorated string
    // distributed, and the oracle replays the known per-variant
    // expansion (NfkcDecoExpected — literals GENERATED from the same
    // Scala table, the ReplayableHash-generated-oracle rule) appended
    // to the raw text. Sound because the fixture text itself is an
    // NFKC fixed point — asserted LOUDLY per row (the csv_malformed
    // fixture-guard idiom), so a future non-ASCII fixture fails with a
    // message, not a bare hash mismatch. The fold itself is
    // spec-attacked in TextSpec (idempotence, NFC∘NFKC = NFKC,
    // canonical cases). Same digest-only output as q_text_unicode_norm.
    "q_text_nfkc" -> ((s: SparkSession, dir: String) => {
      graft.functions.GraftFunctions.register(s)
      val decoArr = array(NfkcDeco.map(lit): _*)
      table(s, dir, "documents")
        .where(coalesce(assert_true(
          call_function("nfkc_normalize", concat(lit(" "), col("text")))
            === concat(lit(" "), col("text")),
          lit("nfkc guard: fixture text is no longer an NFKC fixed " +
            "point — the decoration-split oracle is unsound; regenerate " +
            "the expected-NFKC ground truth")), lit(true)))
        .select(col("doc_id"),
          concat(element_at(decoArr,
              (col("doc_id") % NfkcDeco.size).cast("int") + 1),
            lit(" "), col("text")).as("raw"))
        .select(col("doc_id"), col("raw"),
          call_function("nfkc_normalize", col("raw")).as("nfkc"))
        .select(col("doc_id"),
          (col("nfkc") =!= col("raw")).as("changed"),
          length(col("nfkc")).cast("long").as("len_nfkc"),
          substring(sha2(col("nfkc"), 256), 1, 16).as("sha16"))
        .orderBy("doc_id")
    }),

    // Category-lexicon scoring (r14) — the safety/domain filter shape:
    // per doc, the token mass hitting each declared category lexicon
    // (production swaps in toxicity/PII/domain lists; the SHAPE is the
    // operator). The ≤ Σ|lexicon| relation BROADCASTS, so the memoized
    // tf index never re-shuffles (a broadcast hash join adds no
    // exchange on the probe side — the token string stays scan-side,
    // rule 5b holds); per-category hit masses pivot via conditional
    // sums in ONE hash agg; rates are one exact-int division each.
    // Docs with zero tokens have no defined rate and are out of scope
    // (declared — the index has no row for them).
    "q_text_lexicon_score" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val lexDf = Lexicons
        .flatMap { case (c, ws) => ws.map(w => (c, w)) }
        .toDF("cat", "token")
      val idx = tokenIndexFor(s, dir)
      val nt = idx.groupBy("doc_id").agg(asLong(sum("tf")).as("n_tokens"))
      val hitCols = Lexicons.map { case (c, _) =>
        asLong(sum(when(col("cat") === c, col("tf")).otherwise(0L)))
          .as(s"${c}_hits")
      }
      val hits = idx.join(broadcast(lexDf), "token")
        .groupBy("doc_id").agg(hitCols.head, hitCols.tail: _*)
      nt.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id") +: col("n_tokens") +:
          Lexicons.flatMap { case (c, _) => Seq(
            coalesce(col(s"${c}_hits"), lit(0L)).as(s"${c}_hits"),
            (coalesce(col(s"${c}_hits"), lit(0L)).cast("double") /
              col("n_tokens")).as(s"${c}_rate"))
          }: _*)
        .orderBy("doc_id")
    }),

    // Source↔token mutual information (r10) — how distinguishable the
    // corpus sources are by unigram distribution: the information-gain
    // number a mix designer reads before reweighting (MI ≈ 0 ⇒ sources
    // are interchangeable token-wise; MI near H(source) ⇒ token choice
    // identifies the source). All three entropies in the round-9
    // INTEGER-log2 quanta (exact BIGINT both engines; c·ilog2(c) < 2^63
    // to ~1.4e17 tokens), so MI_q = H_q(S) + H_q(T) − H_q(S,T) replays
    // bit-exact. NOTE the floor-log quantization can push mi_q slightly
    // negative — it is a deterministic proxy, not an estimator. Tokens
    // travel as the 60-bit shingle_key digest (rule 5b); the (source,
    // key) count relation is localCheckpointed once for its three
    // marginal consumers; mi_rate is ONE IEEE division.
    "q_text_source_mi" -> ((s: SparkSession, dir: String) => {
      graft.functions.GraftFunctions.register(s)
      def ilog2(c: org.apache.spark.sql.Column) = length(bin(c)) - 1
      val tf = table(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .where(length(col("token")) > 0)
        .select(col("source"),
          call_function("shingle_key", col("token")).as("key"))
        .groupBy("source", "key").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // feeds joint + both marginal sums
      val j = tf.agg(asLong(sum("c")).as("n"),
        asLong(sum(col("c") * ilog2(col("c")))).as("sj"))
      val tm = tf.groupBy("key").agg(asLong(sum("c")).as("ck"))
        .agg(asLong(count(lit(1))).as("n_vocab"),
          asLong(sum(col("ck") * ilog2(col("ck")))).as("st"))
      val sm = tf.groupBy("source").agg(asLong(sum("c")).as("cs"))
        .agg(asLong(count(lit(1))).as("n_sources"),
          asLong(sum(col("cs") * ilog2(col("cs")))).as("ss"))
      j.crossJoin(broadcast(tm)).crossJoin(broadcast(sm))
        .withColumn("nl", col("n") * ilog2(col("n")))
        .select(col("n").as("n_tokens"), col("n_sources"), col("n_vocab"),
          (col("nl") - col("ss")).as("h_source_q"),
          (col("nl") - col("st")).as("h_token_q"),
          (col("nl") - col("sj")).as("h_joint_q"))
        .withColumn("mi_q",
          col("h_source_q") + col("h_token_q") - col("h_joint_q"))
        .withColumn("mi_rate", col("mi_q").cast("double") / col("n_tokens"))
    }),

    // Pairwise source-distribution divergence (r11b) — the size-weighted
    // Jensen–Shannon divergence between every source pair's unigram
    // distributions, the "how different are my sources really" number a
    // mix designer reads per PAIR (q_text_source_mi gives the one global
    // gain; this localizes it). With size weights π = nᵢ/n the weighted
    // JSD IS the two-source restriction of MI(S;T), so the same
    // integer-log2 quanta replay exactly: jsd_q = H_q(pool) − H_q(a) −
    // H_q(b) with H_q(X) = n·ilog2(n) − Σ c·ilog2(c). The pooled sum
    // splits into shared-key terms (one digest equi self-join) plus the
    // single-source remainders (marginal sums minus their shared parts) —
    // keys present in only one source never need a full-outer join.
    // Scale: tokens travel as 60-bit digests (rule 5b); the self-join
    // reuses ONE localCheckpointed count relation; pair rows ≤ sources².
    // Quantization caveat as mi_q: a deterministic proxy, not an
    // estimator (floor-log can push tiny divergences negative).
    // Per-source conditional bigram entropy (r15): H_q(next | prev) =
    // H_q(bigram) − H_q(prev) in the INTEGER-log2 quanta (exact BIGINT
    // both engines), i.e. cond_q = Σ c_p·ilog2(c_p) − Σ c_pt·ilog2(c_pt)
    // — the predictability-of-continuation readout (templated/boiler-
    // plate sources sit near 0; diverse prose runs high). cond_q ≥ 0
    // holds EXACTLY in quanta (splitting a count can only lower
    // Σ c·ilog2(c) — the r10 safe order relation; general quanta
    // inequalities are NOT safe, see the r11 counterexample). Bigram
    // and prev-token keys travel as 60-bit shingle digests (rule 5b);
    // the (source, kp, kb) count relation is tf-AGGREGATED before its
    // one localCheckpoint (the r11 index rule — never raw occurrence
    // rows) and feeds both the joint and prev-marginal sums.
    "q_text_cond_entropy" -> ((s: SparkSession, dir: String) => {
      def ilog2(c: org.apache.spark.sql.Column) = length(bin(c)) - 1
      // r16: rides the shared bigram digest memo (bigramDigestFor) — the
      // per-call corpus bigram explode + digest pass is amortized across
      // this query and q_llm_collocations. kp = k1 (digest of the first
      // token); summing c over the finer (source, kb, k1, k2) grouping
      // equals the direct (source, kp, kb) count exactly, collisions
      // included.
      val tb = bigramDigestFor(s, dir)
        .select(col("source"), col("k1").as("kp"), col("kb"), col("c"))
        .groupBy("source", "kp", "kb").agg(sum(col("c")).as("c"))
        .localCheckpoint(true)
      val jt = tb.groupBy("source").agg(
        asLong(sum(col("c"))).as("n"),
        asLong(count(lit(1))).as("n_distinct_bigrams"),
        asLong(sum(col("c") * ilog2(col("c")))).as("sj"))
      val pm = tb.groupBy("source", "kp").agg(asLong(sum(col("c"))).as("cp"))
        .groupBy("source").agg(
          asLong(count(lit(1))).as("n_distinct_prev"),
          asLong(sum(col("cp") * ilog2(col("cp")))).as("sp"))
      jt.join(pm, "source")
        .select(col("source"), col("n").as("n_bigrams"),
          col("n_distinct_bigrams"), col("n_distinct_prev"),
          (col("n") * ilog2(col("n")) - col("sp")).as("h_prev_q"),
          (col("n") * ilog2(col("n")) - col("sj")).as("h_bigram_q"),
          (col("sp") - col("sj")).as("cond_q"),
          ((col("sp") - col("sj")).cast("double") / col("n")).as("cond_rate"))
        .orderBy("source")
    }),

    "q_text_source_jsd" -> ((s: SparkSession, dir: String) => {
      graft.functions.GraftFunctions.register(s)
      def ilog2(c: org.apache.spark.sql.Column) = length(bin(c)) - 1
      val tf = table(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .where(length(col("token")) > 0)
        .select(col("source"),
          call_function("shingle_key", col("token")).as("key"))
        .groupBy("source", "key").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // feeds the self-join AND the marginals
      val marg = tf.groupBy("source").agg(asLong(sum("c")).as("ns"),
        asLong(sum(col("c") * ilog2(col("c")))).as("ssum"))
      val shared = tf.select(col("source").as("src_a"), col("key"), col("c").as("ca"))
        .join(tf.select(col("source").as("src_b"), col("key"), col("c").as("cb")),
          "key")
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
          asLong(sum((col("ca") + col("cb"))
            * ilog2(col("ca") + col("cb")))).as("sp_sh"),
          asLong(sum(col("ca") * ilog2(col("ca")))).as("sa_sh"),
          asLong(sum(col("cb") * ilog2(col("cb")))).as("sb_sh"))
      shared
        .join(broadcast(marg.select(col("source").as("src_a"),
          col("ns").as("na"), col("ssum").as("sa"))), "src_a")
        .join(broadcast(marg.select(col("source").as("src_b"),
          col("ns").as("nb"), col("ssum").as("sb"))), "src_b")
        .withColumn("n", col("na") + col("nb"))
        .withColumn("spool",
          col("sp_sh") + (col("sa") - col("sa_sh")) + (col("sb") - col("sb_sh")))
        .select(col("src_a"), col("src_b"), col("n").as("n_tokens"),
          (col("n") * ilog2(col("n")) - col("spool")).as("h_pool_q"),
          (col("na") * ilog2(col("na")) - col("sa")).as("h_a_q"),
          (col("nb") * ilog2(col("nb")) - col("sb")).as("h_b_q"))
        .withColumn("jsd_q",
          col("h_pool_q") - col("h_a_q") - col("h_b_q"))
        .withColumn("jsd_rate", col("jsd_q").cast("double") / col("n_tokens"))
        .orderBy("src_a", "src_b")
    }),

    // Sensitive-term scrubbing (the PII-redaction shape: a term/pattern
    // list replaced by a placeholder before the text ships to training):
    // per doc the match count, redacted length, and redacted-text sha
    // (§7.5 binary determinism — the shuffle/output never carries the
    // scrubbed text). Pure scan-side regex, zero shuffle; both engines
    // run the identical RE2-compatible pattern.
    "q_text_scrub" -> ((s: SparkSession, dir: String) =>
      scrub(table(s, dir, "documents")).orderBy("doc_id")),

    // Sensitive-content incidence audit per source — the aggregate report
    // a pipeline runs BEFORE scrubbing to decide which sources need it
    // (q_text_scrub is the per-doc redaction itself). Scan-side
    // regexp_count + one tiny hash agg on the bounded source key; the
    // shared RE2-compatible pattern keeps both engines' counts identical.
    "q_text_pii_audit" -> ((s: SparkSession, dir: String) =>
      piiAudit(table(s, dir, "documents")).orderBy("source")),

    // Document fingerprinting: polynomial rolling hash over the whole text
    // plus a winnowing-style min-shingle hash. Oracled since round 4 (the
    // mod-prime form replays in SQL); TextSpec keeps the winnowing
    // monotonicity and sensitivity properties the hash gate can't see.
    // Native codegen'd expressions (TextHashExpressions) since round 9 —
    // no UDF serialization round-trip; the scan stays one codegen span.
    "q_text_fingerprint" -> ((s: SparkSession, dir: String) => {
      graft.functions.GraftFunctions.register(s)
      table(s, dir, "documents")
        .select(col("doc_id"),
          call_function("text_full_hash", col("text")).as("fingerprint"),
          call_function("min_shingle_hash", col("text"), lit(8))
            .as("min_shingle_hash"))
        .orderBy("doc_id")
    }),

    // Winnowing fingerprint selection (the MOSS algorithm, SIGMOD'03):
    // min of each run of 4 consecutive 8-gram hashes — a
    // position-independent fingerprint sample with the guarantee that any
    // shared substring of ≥ 11 codepoints shares a fingerprint (TextSpec
    // pins it). See winnowStats for the scale shape.
    "q_text_winnow" -> ((s: SparkSession, dir: String) =>
      winnowStats(s, table(s, dir, "documents")).orderBy("doc_id")),

    // Readability profile (LIX-style): words-per-sentence + long-word
    // share from pure integer counts — the curation quality signal
    // complementing q_text_quality's stopword/length score. Scan-side
    // arithmetic, zero shuffle before the presentation sort; both
    // divisions are int→double (IEEE-exact-rounded in both engines) and
    // the two LIX addends combine in the same pinned order, so the
    // doubles hash-gate.
    "q_text_readability" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "documents")
        .withColumn("n_words", asLong(greatest(lit(1),
          size(expr("filter(split(text, ' '), t -> length(t) > 0)")))))
        .withColumn("n_long", asLong(
          size(expr("filter(split(text, ' '), t -> length(t) >= 7)"))))
        .withColumn("n_sentences", asLong(greatest(lit(1),
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))))))
        .select(col("doc_id"), col("n_words"), col("n_long"), col("n_sentences"),
          (col("n_words").cast("double") / col("n_sentences"))
            .as("words_per_sentence"),
          ((col("n_words").cast("double") / col("n_sentences"))
            + (col("n_long") * lit(100L)).cast("double") / col("n_words"))
            .as("lix"))
        .orderBy("doc_id")),

    // BM25 retrieval scoring of every document against a fixed 4-term
    // query — the ranking pass of a search/RAG pipeline (log-free rational
    // idf: see bm25TermFormula). Scale: tokens map to a BOUNDED integer
    // term_id at the scan (only the 4 query terms survive the filter), so
    // no raw token string ever reaches an exchange (PlanAudit rule 5b);
    // doc length and corpus stats are hash aggs (the stats pair is a
    // broadcast 1-row relation); the per-doc total adds the ≤4 per-term
    // partials in FIXED term_id order via a conditional-max pivot (FP
    // addition is order-sensitive — a sum() over an unordered group would
    // not replay); top-20 rides TakeOrderedAndProject.
    "q_text_bm25" -> ((s: SparkSession, dir: String) =>
      bm25DocFor(s, dir)
        .orderBy(desc("bm25"), asc("doc_id"))
        .limit(20)),

    // RAKE keyphrase extraction (Rose et al.): candidate phrases are
    // maximal runs of non-stopword tokens (stopwords = the corpus top-10
    // by document frequency — data-derived, deterministic tie-break);
    // each word scores deg/freq where deg sums the lengths of the phrases
    // it appears in; a phrase scores Σdeg·10⁶ div Σfreq as ONE exact
    // integer division (the log-free replay discipline — a per-word
    // double-ratio sum would be FP-order-sensitive). Scale: the
    // segmentation windows ride per-DOC sorts (high-cardinality key);
    // word stats and phrase types are hash aggs on the token/phrase
    // strings — a DECLARED PlanAudit 5b exemption (like tfidf, the
    // strings are the group keys and the result payload); phrase length
    // caps at 4 so the per-phrase collect is constant-bounded. Integer
    // bound: Σdeg·10⁶ < 2^63 up to ~10^12 member occurrences — beyond
    // that drop the scale factor (the collocations rule).
    "q_text_rake" -> ((s: SparkSession, dir: String) => {
      val toks = table(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          expr("filter(split(text, ' '), t -> length(t) > 0)"))
          .as(Seq("pos", "token")))
      // document frequency = one count over the memoized token index
      // (its rows ARE the distinct (doc, token) pairs) — the old
      // explode + distinct + agg tree collapses to one warm-leaf agg
      val stops = tokenIndexFor(s, dir)
        .groupBy("token").agg(count(lit(1)).as("dfc"))
        .orderBy(desc("dfc"), asc("token")).limit(RakeStops)
        .select(col("token"), lit(1).as("is_stop"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      // r15 (optimization): members is read by wstats AND the phrase
      // assembly — unmaterialized, the explode + stop join + BOTH windows
      // re-ran per reference (the r6 "don't checkpoint token rows" note
      // is about single-consumer frames — this one re-runs two window
      // sorts per reference).
      // SCALE CAVEAT (r15 advisor): this pins a per-token-OCCURRENCE
      // frame on executors — O(total tokens) rows. Win measured at sf0.1
      // AND re-measured at ×10 (r16 ScaleProbe: checkpointed 8.60 s
      // cold / 3.18 s warm vs unmaterialized 9.06 / 3.28 — keep; no
      // memory pressure at the default heap). If pressure appears at
      // larger scale, checkpoint the aggregated wstats instead and
      // recompute members for the phrase assembly.
      val members = toks
        .join(broadcast(stops), Seq("token"), "left")
        .withColumn("pid", sum(coalesce(col("is_stop"), lit(0)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where(col("is_stop").isNull)
        .withColumn("plen", count(lit(1)).over(
          Window.partitionBy("doc_id", "pid")))
        .localCheckpoint(true)
      val wstats = members.groupBy("token")
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      members.join(wstats, "token")
        .groupBy("doc_id", "pid")
        .agg(
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(pos, token))), s -> s.token)"))
            .as("phrase"),
          count(lit(1)).as("plen2"),
          sum(col("deg")).as("num"), sum(col("freq")).as("den"))
        .groupBy("phrase")
        .agg(asLong(count(lit(1))).as("support"),
          asLong(min(col("plen2"))).as("n_words"),
          min(col("num")).as("num"), min(col("den")).as("den"))
        .where(col("n_words") <= RakeMaxLen)
        .selectExpr("phrase", "n_words", "support",
          s"num * $RakeScale div den AS score")
        .orderBy(desc("score"), asc("phrase"))
        .limit(RakeTopK)
    })
  )

  /** The per-doc BM25 relation (doc_id, dl, n_terms, bm25) over the fixed
    * [[Bm25Terms]] query — docs matching ≥ 1 term. The q_text_bm25
    * primitive, exposed for the rank-fusion operator (CurationOps) and
    * [[graft.Pipelines]]. */
  private[graft] def bm25Doc(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
    bm25FromCounts(docs,
      toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
  }

  /** [[bm25Doc]] over the memoized [[tokenIndexFor]] index — identical
    * relation (dl = Σtf, sdl = ΣΣtf, per-term tf/df are the same exact
    * BIGINTs), but the warm path aggregates the materialized
    * distinct-(doc, token) leaf instead of re-exploding the corpus three
    * times. Used by q_text_bm25 and the rank-fusion chain. */
  private[graft] def bm25DocFor(s: SparkSession, dir: String): DataFrame =
    bm25FromCounts(table(s, dir, "documents"),
      tokenIndexFor(s, dir).select("doc_id", "token", "tf"))

  /** BM25 over a per-doc term-count relation `(doc_id, token, tf)`. */
  private def bm25FromCounts(docs: DataFrame, counts: DataFrame): DataFrame = {
    val dl = counts.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(counts.agg(sum(col("tf")).as("sdl"))))
    val termId = Bm25Terms.zipWithIndex
      .foldLeft(lit(null).cast("long")) { case (acc, (t, i)) =>
        when(col("token") === t, i.toLong).otherwise(acc)
      }
    val tf = counts.withColumn("term_id", termId)
      .where(col("term_id").isNotNull).drop("token")
      .groupBy("doc_id", "term_id").agg(sum(col("tf")).as("tf"))
    val dfreq = tf.groupBy("term_id").agg(count(lit(1)).as("df"))
    // dfreq is ≤ |Bm25Terms| rows; with an RDD-leaf lineage the planner
    // cannot see that (r7 rule) — broadcast explicitly
    val scored = tf.join(broadcast(dfreq), "term_id").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .selectExpr("doc_id", "term_id", bm25TermFormula)
    val pivots = Bm25Terms.indices.map(i =>
      max(when(col("term_id") === i.toLong, col("s"))).as(s"s$i"))
    scored.groupBy("doc_id")
      .agg(asLong(count(lit(1))).as("n_terms"),
        pivots: _*)
      .join(dl, "doc_id")
      .selectExpr("doc_id", "CAST(dl AS BIGINT) AS dl", "n_terms",
        Bm25Terms.indices.map(i => s"COALESCE(s$i, 0.0)")
          .mkString("", " + ", " AS bm25"))
  }

  /** The language-ID oracle CTE chain, ending with
    * `rel(doc_id, lang, lang_guess)` — shared by the predictor and the
    * confusion-matrix eval so the twins cannot drift. */
  private val langidCte =
    """tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |tokf AS (SELECT * FROM tok WHERE length(token) > 0),
      |freq AS (SELECT lang, token, count(*) AS c FROM tokf GROUP BY lang, token),
      |prof AS (
      |  SELECT lang AS plang, token FROM (
      |    SELECT lang, token,
      |           row_number() OVER (PARTITION BY lang ORDER BY c DESC, token ASC) AS prof_rn
      |    FROM freq) WHERE prof_rn <= 20),
      |dtok AS (SELECT DISTINCT doc_id, token FROM tokf),
      |score AS (
      |  SELECT d.doc_id, p.plang, count(*) AS s
      |  FROM dtok d JOIN prof p USING (token) GROUP BY d.doc_id, p.plang),
      |best AS (
      |  SELECT doc_id, plang AS lang_guess FROM (
      |    SELECT doc_id, plang, s,
      |           row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, plang ASC) AS best_rn
      |    FROM score) WHERE best_rn = 1),
      |rel AS (
      |  SELECT d.doc_id, d.lang, b.lang_guess
      |  FROM documents d LEFT JOIN best b USING (doc_id))""".stripMargin

  def oracle: Seq[(String, String)] = Seq(
    "q_text_normalize" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         CAST(length(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS BIGINT) AS norm_len,
        |         sha256(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS nhash
        |  FROM documents),
        |c AS (SELECT nhash, count(*) AS n_same_norm FROM h GROUP BY nhash)
        |SELECT doc_id, norm_len, h.nhash, n_same_norm
        |FROM h JOIN c USING (nhash) ORDER BY doc_id""".stripMargin,

    "q_text_unicode_norm" ->
      """SELECT doc_id,
        |       nfc_normalize(text) <> text AS changed,
        |       CAST(length(nfc_normalize(text)) AS BIGINT) AS len_nfc,
        |       substring(sha256(nfc_normalize(text)), 1, 16) AS sha16
        |FROM documents ORDER BY doc_id""".stripMargin,

    // lexicon VALUES generated from the same Scala table; tf
    // MATERIALIZED (two readers: totals + hits)
    "q_text_lexicon_score" -> {
      val vals = Lexicons.flatMap { case (c, ws) =>
        ws.map(w => s"('$c', '$w')") }.mkString(", ")
      val hitSums = Lexicons.map { case (c, _) =>
        s"CAST(sum(CASE WHEN cat = '$c' THEN tf ELSE 0 END) AS BIGINT) AS ${c}_hits"
      }.mkString(",\n         ")
      val outCols = Lexicons.map { case (c, _) =>
        s"coalesce(${c}_hits, 0) AS ${c}_hits,\n       " +
          s"CAST(coalesce(${c}_hits, 0) AS DOUBLE) / n_tokens AS ${c}_rate"
      }.mkString(",\n       ")
      s"""WITH lex(cat, word) AS (VALUES $vals),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |    FROM documents)
         |  WHERE length(token) > 0 GROUP BY doc_id, token),
         |nt AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens
         |  FROM tf GROUP BY doc_id),
         |h AS (
         |  SELECT doc_id,
         |         $hitSums
         |  FROM tf JOIN lex ON tf.token = lex.word GROUP BY doc_id)
         |SELECT nt.doc_id, n_tokens,
         |       $outCols
         |FROM nt LEFT JOIN h ON nt.doc_id = h.doc_id
         |ORDER BY nt.doc_id""".stripMargin
    },

    // Ground-truth replay of the decoration split (r14): the raw and
    // expected-NFKC prefixes are literals generated from the SAME Scala
    // table the engine decorates with (NfkcDeco / NfkcDecoExpected);
    // the ASCII text rides through both unchanged (the engine asserts
    // that invariant loudly per row).
    "q_text_nfkc" -> {
      val k = NfkcDeco.size
      val rawCase = NfkcDeco.zipWithIndex
        .map { case (d, i) => s"WHEN $i THEN '$d'" }.mkString(" ")
      val expCase = NfkcDecoExpected.zipWithIndex
        .map { case (d, i) => s"WHEN $i THEN '$d'" }.mkString(" ")
      s"""WITH d AS (
         |  SELECT doc_id,
         |         (CASE doc_id % $k $rawCase END) || ' ' || text AS raw,
         |         (CASE doc_id % $k $expCase END) || ' ' || text AS nfkc
         |  FROM documents)
         |SELECT doc_id, nfkc <> raw AS changed,
         |       CAST(length(nfkc) AS BIGINT) AS len_nfkc,
         |       substring(sha256(nfkc), 1, 16) AS sha16
         |FROM d ORDER BY doc_id""".stripMargin
    },

    "q_text_fingerprint" -> {
      val th = graft.functions.ReplayableHash.tokenHashSql("text")
      val RH = graft.functions.ReplayableHash
      s"""SELECT doc_id,
         |  $th AS fingerprint,
         |  CASE WHEN length(text) < 8 THEN $th
         |       ELSE list_aggregate(list_transform(range(1, length(text) - 6), i ->
         |              list_reduce(list_prepend(CAST(0 AS BIGINT),
         |                list_transform(range(i, i + 8), j -> CAST(ord(text[j]) AS BIGINT))),
         |                (h, c) -> (h * ${RH.Base} + c) % ${RH.P})), 'min')
         |  END AS min_shingle_hash
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q_text_repetition" ->
      """WITH tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE length(token) > 0 GROUP BY doc_id, token),
        |agg AS (
        |  SELECT doc_id,
        |         CAST(sum(tf) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS n_distinct,
        |         CAST(sum(tf * tf) AS BIGINT) AS sum_sq
        |  FROM tf GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |       CAST(sum_sq AS DOUBLE) / (n_tokens * n_tokens) AS simpson,
        |       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q_text_entropy" ->
      s"""WITH tf AS (
         |  SELECT doc_id, ${graft.functions.ReplayableHash.shingleKeySql("token")} AS key,
         |         count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         |  WHERE length(token) > 0 GROUP BY 1, 2),
         |a AS (
         |  SELECT doc_id,
         |         CAST(sum(tf) AS BIGINT) AS n_tokens,
         |         CAST(count(*) AS BIGINT) AS n_distinct,
         |         CAST(sum(tf * (length(bin(tf)) - 1)) AS BIGINT) AS s_tlog
         |  FROM tf GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_distinct,
         |       n_tokens * (length(bin(n_tokens)) - 1) - s_tlog AS ent_proxy,
         |       CAST(n_tokens * (length(bin(n_tokens)) - 1) - s_tlog AS DOUBLE)
         |         / n_tokens AS ent_rate
         |FROM a ORDER BY doc_id""".stripMargin,

    // tf is read three times (joint + both marginals) -> MATERIALIZED
    "q_text_source_mi" ->
      s"""WITH tf AS MATERIALIZED (
         |  SELECT source, ${graft.functions.ReplayableHash.shingleKeySql("token")} AS key,
         |         count(*) AS c FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
         |  WHERE length(token) > 0 GROUP BY 1, 2),
         |j AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |             CAST(sum(c * (length(bin(c)) - 1)) AS BIGINT) AS sj FROM tf),
         |tm AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab,
         |              CAST(sum(ck * (length(bin(ck)) - 1)) AS BIGINT) AS st
         |       FROM (SELECT CAST(sum(c) AS BIGINT) AS ck FROM tf GROUP BY key)),
         |sm AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
         |              CAST(sum(cs * (length(bin(cs)) - 1)) AS BIGINT) AS ss
         |       FROM (SELECT CAST(sum(c) AS BIGINT) AS cs FROM tf GROUP BY source))
         |SELECT n AS n_tokens, n_sources, n_vocab,
         |       n * (length(bin(n)) - 1) - ss AS h_source_q,
         |       n * (length(bin(n)) - 1) - st AS h_token_q,
         |       n * (length(bin(n)) - 1) - sj AS h_joint_q,
         |       (n * (length(bin(n)) - 1) - ss) + (n * (length(bin(n)) - 1) - st)
         |         - (n * (length(bin(n)) - 1) - sj) AS mi_q,
         |       CAST((n * (length(bin(n)) - 1) - ss) + (n * (length(bin(n)) - 1) - st)
         |            - (n * (length(bin(n)) - 1) - sj) AS DOUBLE) / n AS mi_rate
         |FROM j CROSS JOIN tm CROSS JOIN sm""".stripMargin,

    "q_text_cond_entropy" -> {
      val RH = graft.functions.ReplayableHash
      s"""WITH tb AS MATERIALIZED (
         |  SELECT source, kp, kb, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT source,
         |           ${RH.shingleKeySql("ts[bi]")} AS kp,
         |           ${RH.shingleKeySql("ts[bi] || ' ' || ts[bi + 1]")} AS kb
         |    FROM (
         |      SELECT source, ts,
         |             unnest(range(1, CAST(length(ts) AS INT))) AS bi
         |      FROM (
         |        SELECT source,
         |               list_filter(string_split(text, ' '), t -> length(t) > 0) AS ts
         |        FROM documents)))
         |  GROUP BY 1, 2, 3),
         |jt AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
         |         CAST(count(*) AS BIGINT) AS nbv,
         |         CAST(sum(c * (length(bin(c)) - 1)) AS BIGINT) AS sj
         |  FROM tb GROUP BY source),
         |pm AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS npv,
         |         CAST(sum(cp * (length(bin(cp)) - 1)) AS BIGINT) AS sp
         |  FROM (SELECT source, kp, CAST(sum(c) AS BIGINT) AS cp
         |        FROM tb GROUP BY 1, 2)
         |  GROUP BY source)
         |SELECT jt.source AS source, n AS n_bigrams,
         |       nbv AS n_distinct_bigrams, npv AS n_distinct_prev,
         |       n * (length(bin(n)) - 1) - sp AS h_prev_q,
         |       n * (length(bin(n)) - 1) - sj AS h_bigram_q,
         |       sp - sj AS cond_q,
         |       CAST(sp - sj AS DOUBLE) / n AS cond_rate
         |FROM jt JOIN pm ON jt.source = pm.source
         |ORDER BY jt.source""".stripMargin
    },

    "q_text_source_jsd" ->
      s"""WITH tf AS MATERIALIZED (
         |  SELECT source, ${graft.functions.ReplayableHash.shingleKeySql("token")} AS key,
         |         count(*) AS c FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
         |  WHERE length(token) > 0 GROUP BY 1, 2),
         |marg AS MATERIALIZED (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS ns,
         |         CAST(sum(c * (length(bin(c)) - 1)) AS BIGINT) AS ssum
         |  FROM tf GROUP BY source),
         |shared AS (
         |  SELECT x.source AS src_a, y.source AS src_b,
         |         CAST(sum((x.c + y.c) * (length(bin(x.c + y.c)) - 1)) AS BIGINT) AS sp_sh,
         |         CAST(sum(x.c * (length(bin(x.c)) - 1)) AS BIGINT) AS sa_sh,
         |         CAST(sum(y.c * (length(bin(y.c)) - 1)) AS BIGINT) AS sb_sh
         |  FROM tf x JOIN tf y ON x.key = y.key AND x.source < y.source
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT src_a, src_b, a.ns + b.ns AS n,
         |         sp_sh + (a.ssum - sa_sh) + (b.ssum - sb_sh) AS spool,
         |         a.ns AS na, b.ns AS nb, a.ssum AS sa, b.ssum AS sb
         |  FROM shared
         |  JOIN marg a ON a.source = src_a
         |  JOIN marg b ON b.source = src_b)
         |SELECT src_a, src_b, n AS n_tokens,
         |       n * (length(bin(n)) - 1) - spool AS h_pool_q,
         |       na * (length(bin(na)) - 1) - sa AS h_a_q,
         |       nb * (length(bin(nb)) - 1) - sb AS h_b_q,
         |       (n * (length(bin(n)) - 1) - spool)
         |         - (na * (length(bin(na)) - 1) - sa)
         |         - (nb * (length(bin(nb)) - 1) - sb) AS jsd_q,
         |       CAST((n * (length(bin(n)) - 1) - spool)
         |            - (na * (length(bin(na)) - 1) - sa)
         |            - (nb * (length(bin(nb)) - 1) - sb) AS DOUBLE) / n AS jsd_rate
         |FROM j ORDER BY src_a, src_b""".stripMargin,

    "q_text_langid" ->
      s"""WITH $langidCte
         |SELECT doc_id, lang, lang_guess FROM rel ORDER BY doc_id""".stripMargin,

    // m is read twice -> MATERIALIZED; share is ONE int/int division
    "q_text_langid_eval" ->
      s"""WITH $langidCte,
         |m AS MATERIALIZED (
         |  SELECT lang, COALESCE(lang_guess, 'none') AS guess,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM rel GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total FROM m GROUP BY lang)
         |SELECT lang, guess, n, lang_total,
         |       CAST(n AS DOUBLE) / lang_total AS share,
         |       CAST(CASE WHEN lang = guess THEN 1 ELSE 0 END AS BIGINT) AS is_hit
         |FROM m JOIN tot USING (lang)
         |ORDER BY lang, guess""".stripMargin,

    "q_text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars,
         |         len(string_split(text, ' ')) AS n_tokens,
         |         len(list_filter(string_split(text, ' '),
         |             x -> x IN (${Stopwords.map(w => s"'$w'").mkString(", ")}))) AS n_stop
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(n_tokens AS BIGINT) AS n_tokens,
         |       n_stop / n_tokens AS stop_ratio,
         |       least(1.0, n_chars / 500.0) AS len_score,
         |       n_stop / n_tokens * 0.5 + least(1.0, n_chars / 500.0) * 0.5 AS quality
         |FROM t ORDER BY doc_id""".stripMargin,

    "q_text_oov" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tokf AS (SELECT * FROM tok WHERE length(token) > 0),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS tf FROM tokf GROUP BY token
        |    ORDER BY tf DESC, token ASC LIMIT 30)),
        |j AS (
        |  SELECT t.doc_id,
        |         CASE WHEN v.token IS NULL THEN 0 ELSE 1 END AS iv
        |  FROM tokf t LEFT JOIN vocab v USING (token))
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(count(*) - sum(iv) AS BIGINT) AS n_oov,
        |       CAST(count(*) - sum(iv) AS DOUBLE) / count(*) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_scrub" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$SensitivePattern')) AS BIGINT) AS n_sensitive,
         |  CAST(length(regexp_replace(text, '$SensitivePattern', '$Redaction', 'g')) AS BIGINT) AS clean_len,
         |  sha256(regexp_replace(text, '$SensitivePattern', '$Redaction', 'g')) AS clean_sha
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_pii_audit" ->
      s"""WITH h AS (
         |  SELECT source,
         |         len(regexp_extract_all(text, '$SensitivePattern')) AS hits
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_hits,
         |       CAST(sum(hits) AS BIGINT) AS total_hits,
         |       CAST(max(hits) AS BIGINT) AS max_hits
         |FROM h GROUP BY source ORDER BY source""".stripMargin,

    "q_text_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         string_split(text, ' ') AS ws_toks,
        |         regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS re_toks
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(ws_toks) AS BIGINT) AS n_ws_tokens,
        |       CAST(len(re_toks) AS BIGINT) AS n_re_tokens,
        |       n_chars / len(re_toks) AS chars_per_token
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_text_winnow" -> {
      val RH = graft.functions.ReplayableHash
      val K = WinnowK
      val W = WinnowW
      s"""WITH g AS (
         |  SELECT doc_id,
         |    CASE WHEN length(text) < $K THEN [${RH.tokenHashSql("text")}]
         |    ELSE list_transform(range(1, length(text) - ${K - 2}), i ->
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(i, i + $K), j -> CAST(ord(text[j]) AS BIGINT))),
         |        (h, c) -> (h * ${RH.Base} + c) % ${RH.P}))
         |    END AS kg
         |  FROM documents),
         |sel AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(kg) < $W THEN [list_aggregate(kg, 'min')]
         |    ELSE list_transform(range(1, len(kg) - ${W - 2}), p ->
         |           list_aggregate(kg[p : p + ${W - 1}], 'min'))
         |    END)) AS wh
         |  FROM g),
         |shared AS (
         |  SELECT wh, count(*) AS nd FROM sel GROUP BY wh HAVING count(*) > 1),
         |per AS (
         |  SELECT s.doc_id,
         |         CAST(count(*) AS BIGINT) AS n_selected,
         |         CAST(sum(CASE WHEN sh.nd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |         CAST(max(coalesce(sh.nd, 1)) AS BIGINT) AS max_shared
         |  FROM sel s LEFT JOIN shared sh USING (wh) GROUP BY s.doc_id)
         |SELECT d.doc_id,
         |       CAST(greatest(length(d.text) - ${K - 1}, 0) AS BIGINT) AS n_kgrams,
         |       n_selected, n_shared, max_shared
         |FROM documents d JOIN per USING (doc_id) ORDER BY d.doc_id""".stripMargin
    },

    "q_text_readability" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         greatest(1, len(list_filter(string_split(text, ' '),
        |                                     x -> length(x) > 0))) AS n_words,
        |         len(list_filter(string_split(text, ' '),
        |                         x -> length(x) >= 7)) AS n_long,
        |         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(n_words AS BIGINT) AS n_words,
        |       CAST(n_long AS BIGINT) AS n_long,
        |       CAST(n_sentences AS BIGINT) AS n_sentences,
        |       CAST(n_words AS DOUBLE) / n_sentences AS words_per_sentence,
        |       (CAST(n_words AS DOUBLE) / n_sentences)
        |         + CAST(n_long * 100 AS DOUBLE) / n_words AS lix
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_text_bm25" ->
      s"""WITH $bm25DocCte
         |SELECT doc_id, dl, n_terms, bm25
         |FROM bmdoc ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "q_text_rake" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
         |  FROM (SELECT doc_id,
         |               list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
         |        FROM documents)),
         |tok AS MATERIALIZED (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token FROM t0),
         |st AS (
         |  SELECT token, 1 AS is_stop FROM (
         |    SELECT token, count(DISTINCT doc_id) AS dfc FROM tok GROUP BY token)
         |  ORDER BY dfc DESC, token LIMIT $RakeStops),
         |m1 AS (
         |  SELECT k.doc_id, k.pos, k.token, st.is_stop,
         |         sum(COALESCE(st.is_stop, 0)) OVER (
         |           PARTITION BY k.doc_id ORDER BY k.pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
         |  FROM tok k LEFT JOIN st USING (token)),
         |mem AS MATERIALIZED (
         |  SELECT doc_id, pid, pos, token,
         |         count(*) OVER (PARTITION BY doc_id, pid) AS plen
         |  FROM m1 WHERE is_stop IS NULL),
         |ws AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS freq,
         |         CAST(sum(plen) AS BIGINT) AS deg
         |  FROM mem GROUP BY token),
         |ph AS (
         |  SELECT mem.doc_id, mem.pid,
         |         string_agg(mem.token, ' ' ORDER BY mem.pos) AS phrase,
         |         CAST(count(*) AS BIGINT) AS plen2,
         |         CAST(sum(ws.deg) AS BIGINT) AS num,
         |         CAST(sum(ws.freq) AS BIGINT) AS den
         |  FROM mem JOIN ws USING (token)
         |  GROUP BY mem.doc_id, mem.pid),
         |ty AS (
         |  SELECT phrase, CAST(count(*) AS BIGINT) AS support,
         |         CAST(min(plen2) AS BIGINT) AS n_words,
         |         min(num) AS num, min(den) AS den
         |  FROM ph GROUP BY phrase)
         |SELECT phrase, n_words, support, num * $RakeScale // den AS score
         |FROM ty WHERE n_words <= $RakeMaxLen
         |ORDER BY score DESC, phrase LIMIT $RakeTopK""".stripMargin
  )

  /** Oracle CTE chain computing [[bm25Doc]]'s relation, ending with
    * `bmdoc(doc_id, dl, n_terms, bm25)`. CTE names are b-prefixed so the
    * fragment composes with other chains (the rank-fusion oracle nests it
    * next to the ppm score chain). Shared between the q_text_bm25 and
    * q_text_rank_fusion twins so they cannot drift. */
  private[graft] lazy val bm25DocCte: String = {
    val termCase = Bm25Terms.zipWithIndex
      .map { case (t, i) => s"WHEN '$t' THEN $i" }.mkString(" ")
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val sumExpr = Bm25Terms.indices
      .map(i => s"COALESCE(s$i, 0.0)").mkString(" + ")
    val pivotCols = Bm25Terms.indices
      .map(i => s"max(CASE WHEN term_id = $i THEN s END) AS s$i")
      .mkString(",\n         ")
    s"""bt AS MATERIALIZED (
       |  SELECT doc_id, token FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
       |  WHERE length(token) > 0),
       |bdl AS MATERIALIZED (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM bt GROUP BY doc_id),
       |bst AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
       |         (SELECT CAST(count(*) AS BIGINT) FROM bt) AS sdl),
       |btf AS (
       |  SELECT doc_id, CASE token $termCase END AS term_id,
       |         CAST(count(*) AS BIGINT) AS tf
       |  FROM bt WHERE token IN ($termList) GROUP BY 1, 2),
       |bdfq AS (SELECT term_id, CAST(count(*) AS BIGINT) AS df
       |         FROM btf GROUP BY term_id),
       |bsc AS (
       |  SELECT btf.doc_id, btf.term_id, $bm25TermFormula
       |  FROM btf JOIN bdfq USING (term_id) JOIN bdl USING (doc_id) CROSS JOIN bst),
       |bpv AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |         $pivotCols
       |  FROM bsc GROUP BY doc_id),
       |bmdoc AS (
       |  SELECT bpv.doc_id AS doc_id, bdl.dl AS dl, bpv.n_terms AS n_terms,
       |         $sumExpr AS bm25
       |  FROM bpv JOIN bdl USING (doc_id))""".stripMargin
  }
}
