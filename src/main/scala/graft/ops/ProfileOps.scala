package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ReplayableHash

/** Data-profiling and sketch-aggregate family (SURVEY §2B, split out of
  * DiagOps in r13 — the mega-module split, verdict item 8): column
  * profiling, frequency/drift/correlation/FD/Benford/integrity audits,
  * heavy hitters, diversity, z-score outliers, skew moments, exact
  * winsorization, Count-Min, KMV, and the weighted median.
  *
  * All shared machinery (rank-selection histograms, winsorization cuts,
  * the staged formula sets, the KMV Aggregator) stays in [[DiagOps]] —
  * the queries here are the DECLARATIVE layer over it, and the inner
  * `import DiagOps._` keeps every moved body textually identical to its
  * pre-split form (zero behavior drift; the DuckDB hash gate pins it).
  */
object ProfileOps extends QueryModule {

  import DiagOps._

  def queries: Seq[(String, Q)] = Seq(
    // Column profiling of `orders` in ONE scan: a stack-expand to
    // (col_name, value) rows feeding a single hash agg — row count, null
    // count, distinct count, min/max per column. Numeric and date columns
    // project onto DOUBLE (all values < 2^53, so the projection is exact);
    // a per-column-job formulation would scan the table once per column.
    // Frequent-values profile (r12): the data-profiler staple next to
    // q_profile_table's numeric summary — top-3 values with share for
    // each categorical column, stacked through one scan (stack() fans
    // the row to (col_name, val) pairs map-side, no union of per-column
    // scans). The rank/total windows run over the (column, value)
    // relation, bounded by the VALUE DOMAINS (3 statuses × 5 priorities
    // here), never over corpus rows.
    // k-anonymity / l-diversity audit (r15): the re-identification-risk
    // readout a data-governance pass runs before releasing a table —
    // quasi-identifier classes (nation × $100 balance band), class size
    // k, sensitive-attribute diversity l (distinct market segments per
    // class) and the k<5 risk flag. Banding shifts cents by +100000
    // BEFORE the integer division: Spark `div` truncates toward zero
    // while DuckDB `//` floors, so signed bands would diverge (the
    // r12c2 signed-div rule); the class relation is VALUE-DOMAIN-bounded
    // (≤ nations × balance bands) at any corpus size.
    "q_profile_k_anon" -> ((s: SparkSession, dir: String) =>
      kAnonAssemble(kAnonBanded(table(s, dir, "customer"))
        .groupBy("nation", "bal_band")
        .agg(asLong(count(lit(1))).as("k_size"),
          asLong(countDistinct("c_mktsegment")).as("l_div")))),

    "q_profile_freq" -> ((s: SparkSession, dir: String) => {
      val st = table(s, dir, "orders")
        .selectExpr("stack(2, 'o_orderstatus', o_orderstatus," +
          " 'o_orderpriority', o_orderpriority) AS (col_name, val)")
        .groupBy("col_name", "val").agg(count(lit(1)).as("n"))
      st.withColumn("tot", sum(col("n")).over(
          Window.partitionBy("col_name")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("col_name").orderBy(desc("n"), asc("val"))))
        .where(col("rk") <= 3)
        .select(col("col_name"), asLong(col("rk")).as("rk"), col("val"),
          asLong(col("n")).as("n"),
          (col("n").cast("double") / col("tot")).as("share"))
        .orderBy("col_name", "rk")
    }),

    "q_profile_table" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "orders")
        .select(expr(
          """stack(4,
            |  'o_orderkey', CAST(o_orderkey AS DOUBLE),
            |  'o_custkey', CAST(o_custkey AS DOUBLE),
            |  'o_totalprice', o_totalprice,
            |  'o_orderdate_ms', CAST(unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS DOUBLE)
            |) AS (col_name, v)""".stripMargin))
        .groupBy("col_name")
        .agg(asLong(count(lit(1))).as("n_rows"),
          asLong(sum(when(col("v").isNull, 1L).otherwise(0L))).as("n_nulls"),
          asLong(count_distinct(col("v"))).as("n_distinct"),
          min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("col_name")),

    // Per-source diversity profile of the document corpus: language-
    // distribution concentration (HHI = Σ(cᵢ/n)², its Gini-impurity
    // complement, and the effective language count 1/HHI) — the balance
    // diagnostic of a training-mix report. Gini/HHI replace Shannon
    // entropy BY DESIGN: ln is libm-dependent and would not replay (the
    // bm25 idf rule); HHI is the standard log-free concentration measure.
    // Two chained hash aggs (source×lang, then source); Σcᵢ² stays
    // < 2^63 up to ~3·10⁹ docs per (source, lang); one IEEE division
    // chain per row via a shared formula set.
    "q_agg_diversity" -> ((s: SparkSession, dir: String) => {
      val cl = table(s, dir, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("c"))
      cl.groupBy("source")
        .agg(sum(col("c")).as("n"),
          asLong(count(lit(1))).as("n_langs"),
          sum(col("c") * col("c")).as("sc2"))
        .selectExpr(Seq("source", "CAST(n AS BIGINT) AS n", "n_langs")
          ++ diversityFormulas: _*)
        .orderBy("source")
    }),

    // Referential-integrity audit across the star schema — the
    // expectation-suite pass a pipeline runs before trusting joins: per
    // (child, fk, parent) edge, child rows, orphan rows (no matching
    // parent key), and the orphan rate. Each edge is ONE left-anti join
    // on the fk (shuffle on the key, parent side pre-collapsed to its
    // DISTINCT keys — O(#parent-keys) rows); the four audited edges union
    // to a 4-row report. Orphan counts are exact BIGINTs; the rate is a
    // single IEEE division.
    "q_profile_integrity" -> ((s: SparkSession, dir: String) => {
      val li = table(s, dir, "lineitem")
      integrityEdge(li, "l_orderkey", table(s, dir, "orders"), "o_orderkey",
          "lineitem->orders")
        .union(integrityEdge(li, "l_partkey", table(s, dir, "part"),
          "p_partkey", "lineitem->part"))
        .union(integrityEdge(li, "l_suppkey", table(s, dir, "supplier"),
          "s_suppkey", "lineitem->supplier"))
        .union(integrityEdge(table(s, dir, "orders"), "o_custkey",
          table(s, dir, "customer"), "c_custkey", "orders->customer"))
        .orderBy("fk_edge")
    }),

    // Heavy-hitter / skew diagnosis on lineitem.l_partkey: top-20 keys by
    // frequency with share and cumulative share of the table. The count
    // relation is a hash agg (#distinct keys rows), top-k is
    // TakeOrderedAndProject, and the cumulative sum runs over exactly 20
    // rows — exact BIGINT cumulation, shares as single IEEE divisions.
    "q_agg_heavy_hitters" -> ((s: SparkSession, dir: String) => {
      val li = table(s, dir, "lineitem")
      val tot = li.agg(count(lit(1)).as("n_total"))
      val top = li.groupBy("l_partkey").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("l_partkey")).limit(20)
      val wCum = Window.orderBy(desc("c"), asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.crossJoin(broadcast(tot))
        .withColumn("cum_c", sum("c").over(wCum))
        .select(col("l_partkey"), col("c"),
          (col("c").cast("double") / col("n_total")).as("share"),
          asLong(col("cum_c")).as("cum_c"),
          (col("cum_c").cast("double") / col("n_total")).as("cum_share"))
        .orderBy(desc("c"), asc("l_partkey"))
    }),

    // Per-event-type z-score outliers: moments accumulate as exact DECIMAL
    // (value is exact at 2 decimals, its square exact at 8), surface as
    // DOUBLE once, then mean/var/std/z are a fixed sequence of
    // correctly-rounded IEEE ops — identical on both engines. The 5-row
    // stats relation broadcasts back onto the scan; outliers are |z| > 2.5.
    "q_agg_zscore_outlier" -> ((s: SparkSession, dir: String) => {
      val ev = table(s, dir, "events")
      val dec = col("value").cast("decimal(18,4)")
      val stats = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec).cast("double").as("s1d"),
          sum(dec * dec).cast("double").as("s2d"))
        .withColumn("mean", col("s1d") / col("n"))
        .withColumn("std",
          sqrt(col("s2d") / col("n") - (col("s1d") / col("n")) * (col("s1d") / col("n"))))
        .select("event_type", "mean", "std")
      ev.join(broadcast(stats), "event_type")
        .withColumn("z", (col("value") - col("mean")) / col("std"))
        .where(abs(col("z")) > 2.5)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
        .orderBy("event_id")
    }),

    // Exact distributed winsorization: clamp each event's value into its
    // type's [p05, p95] — cut points from the bucketed-histogram selection
    // in [[winsorCuts]] (no per-group single-task sort), broadcast back.
    "q_win_winsorize" -> ((s: SparkSession, dir: String) =>
      winsorize(table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value")),
        Some("winsor-events" -> SourceSinkOps.fixtureKey(dir, "events.parquet")))
        .orderBy("event_id")),

    // Distribution-shape profiling: exact skewness and excess kurtosis per
    // event_type from integer-scaled moment sums. The scaled value
    // k = round(value·100) is an exact long; Σk and Σk² stay in BIGINT,
    // Σk³ and Σk⁴ accumulate as DECIMAL(38,0) (k³ ≈ 1.2e14 per row
    // overflows BIGINT in aggregate; DuckDB BIGINT overflow is an ERROR —
    // the §7.4 bound). The raw→central-moment expansion and the two
    // dimensionless ratios are ONE shared formula string evaluated by both
    // engines (identical op sequence ⇒ identical doubles; the 100× scale
    // factor cancels algebraically and both engines compute the same
    // residual). Map-side-combinable hash agg — one pass, no window.
    "q_agg_skew" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "events")
        .withColumn("k", round(col("value") * 100).cast("long"))
        .withColumn("k2", col("k") * col("k"))
        .withColumn("k3", col("k2") * col("k")) // ≤ ~1.8e14, exact long
        .withColumn("a", expr("k2 div 65536"))
        .withColumn("b", expr("k2 % 65536"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("double").as("s1d"),
          sum(col("k2")).cast("double").as("s2d"),
          sum(expr(s"k3 div $MomentSplit").cast("decimal(38,0)"))
            .cast("double").as("s3hid"),
          sum(expr(s"k3 % $MomentSplit").cast("decimal(38,0)"))
            .cast("double").as("s3lod"),
          sum((col("a") * col("a")).cast("decimal(38,0)"))
            .cast("double").as("s4aad"),
          sum((lit(2L) * col("a") * col("b")).cast("decimal(38,0)"))
            .cast("double").as("s4abd"),
          sum((col("b") * col("b")).cast("decimal(38,0)"))
            .cast("double").as("s4bbd"))
        .selectExpr(Seq("event_type", "CAST(n AS BIGINT) AS n") ++
          momentFormulas: _*)
        .orderBy("event_type")),

    // Benford first-digit audit (r12) — the fraud/synthetic-data
    // profiling read next to q_profile_drift: observed first-digit
    // shares of the cent-quantized order totals vs the Benford
    // expectation, per-digit deviation. Replay: the first digit comes
    // from the INTEGER-string cast of the cent BIGINT (integers format
    // identically across engines — never a double format or a runtime
    // log10; the expected shares are code-gen-time literals). Scale: one
    // map-side-combinable hash agg to ≤9 rows; the share denominator is
    // a window over that digit-bounded relation.
    "q_profile_benford" -> ((s: SparkSession, dir: String) =>
      benfordReport(table(s, dir, "orders")
        .select(firstDigitCol.as("first_digit"))
        .where(col("first_digit").between(1, 9))
        .groupBy("first_digit").agg(count(lit(1)).as("n")))),

    // Functional-dependency + candidate-key discovery (r12) — the
    // profiling sweep next to q_profile_table/corr: for every unordered
    // column pair over lineitem's discrete columns, distinct counts of
    // each side and of the pair, FD verdicts both ways (A→B holds iff
    // |distinct(A)| = |distinct(A,B)| — the TANE/level-1 rule) and
    // candidate-key flags (nd = row count). Scale: TWO exchanges total —
    // a 6-way single-value explode and a 15-way pair explode, both
    // carrying (tag, digest) longs only, each collapsing through
    // distinct→count hash aggs; the assembly joins are over ≤15-row
    // relations (column-count-bounded constants — legal broadcasts).
    "q_profile_fd" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val base = table(s, dir, "lineitem").selectExpr(
        FdCols.map { case (nm, e) => s"$e AS $nm" }: _*)
      val nRel = base.agg(asLong(count(lit(1))).as("n_rows"))
      val singles = base.select(explode(array(FdCols.map { case (nm, _) =>
          struct(lit(nm).as("c"), col(nm).as("v")) }: _*)).as("x"))
        .select("x.c", "x.v").distinct()
        .groupBy("c").agg(asLong(count(lit(1))).as("nd"))
      val pairRel = base.select(explode(array(FdPairs.map { case (i, j) =>
          struct(lit(s"${FdCols(i)._1}|${FdCols(j)._1}").as("p"),
            col(FdCols(i)._1).as("va"), col(FdCols(j)._1).as("vb")) }: _*)).as("x"))
        .select("x.p", "x.va", "x.vb").distinct()
        .groupBy("p").agg(asLong(count(lit(1))).as("nd_ab"))
      val defs = FdPairs.map { case (i, j) =>
        (s"${FdCols(i)._1}|${FdCols(j)._1}", FdCols(i)._1, FdCols(j)._1)
      }.toDF("p", "col_a", "col_b")
      defs.join(broadcast(pairRel), "p")
        .join(broadcast(singles.toDF("col_a", "nd_a")), "col_a")
        .join(broadcast(singles.toDF("col_b", "nd_b")), "col_b")
        .crossJoin(broadcast(nRel))
        .select(col("col_a"), col("col_b"), col("n_rows"),
          col("nd_a"), col("nd_b"), col("nd_ab"),
          (col("nd_ab") === col("nd_a")).as("fd_a_to_b"),
          (col("nd_ab") === col("nd_b")).as("fd_b_to_a"),
          (col("nd_a") === col("n_rows")).as("key_a"),
          (col("nd_b") === col("n_rows")).as("key_b"))
        .orderBy("col_a", "col_b")
    }),

    // Distribution-drift audit between the corpus' first and second time
    // halves — the train/serve drift check a pipeline runs before trusting
    // a model: value histograms (4096-cent buckets, value-domain-bounded)
    // per half, the two-sample chi-square homogeneity statistic, and both
    // halves' exact means. FP-order discipline: the per-bucket double
    // terms sum through an ORDERED fold over the bucket-sorted collected
    // array (the index-ordered cosine-fold rule — an unordered SUM() of
    // doubles would not replay); the collect is value-domain-bounded, not
    // corpus-bounded. One corpus scan → one hash agg; the half boundary
    // is a broadcast 1-row relation.
    // Two-sample Kolmogorov–Smirnov drift test (r13) per event_type:
    // first vs second half of the global hour span (q_profile_drift's
    // split convention), D = sup|F1 − F2| over the exact cent CDFs. The
    // sup needs only the distinct observed cents (step points), so the
    // whole statistic is EXACT integers until one final division:
    // D·n1·n2 = max |cum1·n2 − cum2·n1| over the per-(type, cent)
    // histogram — BIGINT-safe below ~3e9 rows per half (the
    // collocations c·n bound; pre-divide the counts past that). The
    // cumulative window runs over the AGGREGATED (type, cent) relation —
    // value-DOMAIN-bounded rows per type (the weighted_median argument),
    // never corpus-scaled. The α=0.05 rejection threshold
    // c(α)·sqrt((n1+n2)/(n1·n2)) with c = 1.358 is one sqrt + fixed-order
    // IEEE ops over exact integers — replayable (the mix_alpha sqrt
    // rule); 1.358 is CAST to DOUBLE in both engines (the bm25 literal
    // rule).
    "q_profile_ks_drift" -> ((s: SparkSession, dir: String) => {
      val ev = table(s, dir, "events")
        .withColumn("h", expr(s"unix_micros(ts) div $HourUs"))
        .withColumn("cent", expr("CAST(round(value * 100) AS BIGINT)"))
      val mid = ev.agg(expr("(min(h) + max(h)) div 2").as("hmid"))
      val hist = ev.crossJoin(broadcast(mid))
        .withColumn("first_half", col("h") <= col("hmid"))
        .groupBy("event_type", "cent")
        .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("first_half"), 1L).otherwise(0L)).as("c2"))
      ksFromHalves(hist)
    }),

    // Cramér's V categorical-association profile (r14): the
    // contingency-table effect size a profiler reads next to
    // q_profile_corr's numeric matrix — which categorical columns
    // predict each other (V ≈ 0 independent, V ≈ 1 determined). Two
    // declared pairs: (o_orderstatus × o_orderpriority) and
    // (c_mktsegment × c_nationkey). χ² = Σ (c·n − rᵃ·cᵇ)²/(n·rᵃ·cᵇ)
    // over exact BIGINT contingency counts (t = c·n − rᵃ·cᵇ stays
    // < 2^63 to ~3e9 rows — the collocations bound); the per-cell
    // DOUBLE terms sum through an ORDERED fold over the (a, b)-sorted
    // collected cells (the profile_drift rule — cells are
    // LEVEL-bounded, ≤ r·k per pair, never corpus-scaled). V =
    // sqrt(χ²/(n·min(r−1, k−1))) is one division + one sqrt. The
    // corpus collapses in ONE hash agg per pair stack; the level
    // relations (rows/cols/totals) broadcast explicit (bounded by the
    // category domains).
    "q_profile_cramers_v" -> ((s: SparkSession, dir: String) =>
      cramersFromCells(catCells(s, dir))),

    // Categorical mutual information (r14) over the SAME declared pairs
    // as q_profile_cramers_v, in the round-9 INTEGER-log2 quanta (the
    // q_text_source_mi discipline applied to column pairs): MI_q =
    // H_q(A) + H_q(B) − H_q(A,B) with n·H_q = n·ilog2(n) − Σ c·ilog2(c)
    // — exact BIGINT in both engines (c·ilog2(c) < 2^63 to ~1.4e17
    // rows). The two reads answer different questions: V is effect
    // SIZE, MI is information; together they are the categorical
    // dependency panel. Same one-agg-per-pair-stack shape; the only
    // safe order relation for quanta entropies is joint ≥ max marginal
    // (the r10 bound — pooling bounds are FALSE under floor-log2), and
    // MixDiagSpec pins it with no slack.
    "q_profile_cat_mi" -> ((s: SparkSession, dir: String) =>
      catMiFromCells(catCells(s, dir))),

    "q_profile_drift" -> ((s: SparkSession, dir: String) => {
      val ev = table(s, dir, "events")
        .withColumn("h", expr(s"unix_micros(ts) div $HourUs"))
        .withColumn("bucket",
          expr(s"CAST(round(value * 100) AS BIGINT) div $WinsorBucket"))
      val mid = ev.agg(expr("(min(h) + max(h)) div 2").as("hmid"))
      val dec = col("value").cast("decimal(18,4)")
      val bk = ev.crossJoin(broadcast(mid))
        .withColumn("first_half", col("h") <= col("hmid"))
        .groupBy("bucket")
        .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("first_half"), 1L).otherwise(0L)).as("c2"),
          sum(when(col("first_half"), dec)).as("s1dec"),
          sum(when(!col("first_half"), dec)).as("s2dec"))
      val tot = bk.agg(sum("c1").as("n1"), sum("c2").as("n2"),
        sum("s1dec").as("s1t"), sum("s2dec").as("s2t"))
      bk.crossJoin(broadcast(tot))
        .withColumn("term", expr(driftTermExpr))
        .agg(
          first(col("n1")).as("n1"), first(col("n2")).as("n2"),
          asLong(count(lit(1))).as("n_buckets"),
          first(col("s1t").cast("double")).as("s1d"),
          first(col("s2t").cast("double")).as("s2d"),
          sort_array(collect_list(struct(col("bucket"), col("term"))))
            .as("terms"))
        .selectExpr("CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
          "n_buckets",
          "s1d / n1 AS mean_first", "s2d / n2 AS mean_second",
          "aggregate(terms, CAST(0 AS DOUBLE), (a, x) -> a + x.term) AS chi2")
    }),

    // Pearson correlation matrix over lineitem's four measures (r10) —
    // the standard profiling read next to q_profile_table: which metrics
    // move together (quantity↔extended-price is the structural pair;
    // discount/tax are the independence control). ONE scan computes every
    // moment exactly: cents-quantized BIGINTs, all ten second moments
    // (4 squares + 6 cross) hi/lo-split on 2^30 (the q_agg_skew rule —
    // each partial stays < 2^53; first moments are plain BIGINT sums,
    // exact to ~8·10^11 rows at cent scale, the collocations bound), and
    // the six r values evaluate from the SAME generated formula strings
    // in a fixed IEEE order. The pair rows explode from one struct array
    // over the 1-row moment relation — no union, nothing recomputed.
    "q_profile_corr" -> ((s: SparkSession, dir: String) => {
      val base = table(s, dir, "lineitem").select(
        corrVars.map { case (nm, src) =>
          expr(s"CAST(round($src * 100) AS BIGINT)").as(nm) }: _*)
      val aggs = Seq(count(lit(1)).as("n")) ++
        corrVars.map { case (nm, _) =>
          sum(col(nm)).cast("double").as(s"s_$nm") } ++
        corrSelfAndCross.flatMap { case (a, b) => Seq(
          sum(expr(s"($a * $b) div $MomentSplit").cast("decimal(38,0)"))
            .cast("double").as(s"m_${a}_${b}_hi"),
          sum(expr(s"($a * $b) % $MomentSplit").cast("decimal(38,0)"))
            .cast("double").as(s"m_${a}_${b}_lo"))
        }
      val mom = base.agg(aggs.head, aggs.tail: _*)
      val pairStructs = corrSelfAndCross.filter { case (a, b) => a != b }
        .map { case (a, b) =>
          struct(lit(a).as("var_a"), lit(b).as("var_b"),
            col("n").cast("long").as("n"),
            expr(corrFormula(a, b)).as("corr"))
        }
      mom.select(explode(array(pairStructs: _*)).as("p")).select("p.*")
        .orderBy("var_a", "var_b")
    }),

    // Count-Min sketch over the l_partkey frequency stream — the bounded-
    // memory frequency estimator a 100 TB pipeline keeps when the exact
    // per-key relation is too large to hold (the streaming-side twin of
    // q_agg_heavy_hitters' exact counts). The sketch is DETERMINISTIC
    // (ReplayableHash affine rows, salt 11), so unlike the HLL/GK sketches
    // this "approximate" operator has an EXACT DuckDB oracle: both engines
    // build the identical d×w = 4×512 counter table and read the identical
    // min-over-rows estimates; the output quantifies the overestimate
    // (est − true ≥ 0 always, the CM guarantee — spec-pinned). Scale: the
    // exact per-key relation collapses in a hash agg FIRST (O(#keys) rows,
    // never O(#rows)); the 4-row param relation and the ≤2048-row cell
    // table broadcast; mod-P before multiply keeps a·(key%P)+b < P² < 2^63
    // at any key domain (the round-7 replay rule).
    "q_agg_countmin" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val P = ReplayableHash.P
      val prel = ReplayableHash.CountMinParams.zipWithIndex
        .map { case ((a, b), k) => (k.toLong, a, b) }.toDF("r", "a", "b")
      val freq = table(s, dir, "lineitem")
        .groupBy("l_partkey").agg(count(lit(1)).as("c"))
      val col512 = expr(s"((a * (l_partkey % $P) + b) % $P) % $CmWidth")
      val cells = freq.crossJoin(broadcast(prel))
        .withColumn("cm_col", col512)
        .groupBy("r", "cm_col").agg(sum(col("c")).as("cell"))
      val top = freq.orderBy(desc("c"), asc("l_partkey")).limit(20)
      top.crossJoin(broadcast(prel))
        .withColumn("cm_col", col512)
        .join(broadcast(cells), Seq("r", "cm_col"))
        .groupBy("l_partkey", "c")
        .agg(min(col("cell")).as("c_est"))
        .select(col("l_partkey"), col("c").as("c_true"),
          asLong(col("c_est")).as("c_est"),
          asLong(col("c_est") - col("c")).as("overest"))
        .orderBy(desc("c_true"), asc("l_partkey"))
    }),

    // KMV (k-minimum-values / bottom-k) distinct-count sketch per event
    // type: the bounded-state alternative to countDistinct's expand — a
    // typed Aggregator holding the 64 smallest distinct salt-14 affine
    // hashes, map-side combinable (partials merge as sorted-array merges),
    // O(k) state per group at ANY corpus size. The sketch is DETERMINISTIC
    // (mod-prime affine is a bijection on [0, P)), so like q_agg_countmin
    // it gets an EXACT DuckDB oracle — the oracle re-derives the bottom-64
    // with a window (single-node DuckDB may sort; the ENGINE never does):
    // under capacity the estimate IS the exact count, at capacity it is
    // (k−1)·P / h_(k) as a two-op IEEE double chain. n_exact rides along
    // for the error readout (spec pins the rsd band).
    "q_agg_kmv_distinct" -> ((s: SparkSession, dir: String) => {
      val kmv = udaf(KmvSketch)
      table(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          kmvHash("user_id").as("hv"))
        .groupBy("event_type")
        .agg(kmv(col("hv")).as("sk"),
          countDistinct(col("user_id")).as("nd"))
        .select(col("event_type"),
          asLong(col("nd")).as("n_exact"),
          col("sk._1").as("sketch_size"),
          col("sk._2").as("kth_hash"),
          col("sk._3").as("est_distinct"))
        .orderBy("event_type")
    }),

    // Exact WEIGHTED median (r12): quantity-weighted price median per
    // returnflag — the order statistic where each value carries a weight
    // (Spark's percentile/approx_percentile weight argument buffers the
    // group; this is the distributed-exact shape). It is the weighted
    // DiagOps.valueAtRanks: the memoized (grp, cent) index carries the
    // quantity sum per cent and the quantity of the smaller cents, and
    // the lower weighted median (smallest cent with 2·cumweight ≥ total)
    // is the rank (total + 1) div 2 over the weighted multiset — exact
    // integer comparisons; the readout is the 2-decimal price itself.
    "q_agg_weighted_median" -> ((s: SparkSession, dir: String) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_quantity").cast("long").as("q"))
      val (sel, _) = valueAtRanks(li, "l_returnflag", "l_extendedprice",
        nRel => nRel.select(col("l_returnflag"), lit("med").as("which"),
          expr("(n + 1) div 2").as("rank"), col("n")),
        Some("wmedian-lineitem" -> SourceSinkOps.fixtureKey(dir, "lineitem.parquet")),
        weight = col("q"))
      sel.select(col("l_returnflag"), asLong(col("n")).as("total_weight"),
          col("value").as("w_median"))
        .orderBy("l_returnflag")
    })
  )

  /** q_profile_cramers_v per-cell χ² term over the named t = c·n − rᵃ·cᵇ
    * residual: three sequential IEEE divisions in a fixed order, shared
    * VERBATIM with the DuckDB oracle (the driftTermExpr pattern). */
  private[ops] val cramersTermExpr =
    "CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / CAST(n AS DOUBLE)" +
      " / CAST(ra AS DOUBLE) / CAST(cb AS DOUBLE)"

  /** Cramér's V from a NAMED chi2 column (the abtest staging rule). */
  private[ops] val cramersVFormula =
    "sqrt(chi2 / (CAST(n AS DOUBLE) * least(r_levels - 1, c_levels - 1)))" +
      " AS cramers_v"

  /** The declared categorical pair stack `(pair, a, b)` → contingency
    * cells `(pair, a, b, c)` — shared by q_profile_cramers_v,
    * q_profile_cat_mi and the streaming contingency twin. Cells are
    * LEVEL-bounded (≤ r·k per pair) and localCheckpointed for their
    * multiple bounded consumers. */
  private[graft] def catCells(s: SparkSession, dir: String): DataFrame = {
    val pairsRel = table(s, dir, "orders")
      .select(lit("status_x_priority").as("pair"),
        col("o_orderstatus").as("a"), col("o_orderpriority").as("b"))
      .union(table(s, dir, "customer")
        .select(lit("segment_x_nation").as("pair"),
          col("c_mktsegment").as("a"),
          expr("CAST(c_nationkey AS STRING)").as("b")))
    pairsRel.groupBy("pair", "a", "b")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
  }

  /** Cramér's V report over a contingency cell relation `(pair, a, b,
    * c)` — the q_profile_cramers_v tail, factored (the ksFromHalves
    * twin-body rule) so the streaming contingency twin runs the
    * IDENTICAL computation over its state-induced cells. */
  private[graft] def cramersFromCells(cells: DataFrame): DataFrame = {
    val ra = cells.groupBy("pair", "a").agg(sum("c").as("ra"))
    val cb = cells.groupBy("pair", "b").agg(sum("c").as("cb"))
    val tot = cells.groupBy("pair").agg(sum("c").as("n"),
      countDistinct("a").cast("long").as("r_levels"),
      countDistinct("b").cast("long").as("c_levels"))
    cells
      .join(broadcast(ra), Seq("pair", "a"))
      .join(broadcast(cb), Seq("pair", "b"))
      .join(broadcast(tot), "pair")
      .withColumn("t", expr("c * n - ra * cb"))
      .withColumn("term", expr(cramersTermExpr))
      .groupBy("pair")
      .agg(first("n").as("n"), first("r_levels").as("r_levels"),
        first("c_levels").as("c_levels"),
        sort_array(collect_list(struct(col("a"), col("b"), col("term"))))
          .as("terms"))
      .selectExpr("pair", "CAST(n AS BIGINT) AS n", "r_levels", "c_levels",
        "aggregate(terms, CAST(0 AS DOUBLE), (p, x) -> p + x.term) AS chi2")
      .selectExpr("pair", "n", "r_levels", "c_levels", "chi2",
        cramersVFormula)
      .orderBy("pair")
  }

  /** Quanta-MI report over the same cell relation — the
    * q_profile_cat_mi tail, factored like [[cramersFromCells]]. All
    * sums exact BIGINT; mi_rate is the one IEEE division. */
  private[graft] def catMiFromCells(cells: DataFrame): DataFrame = {
    def ilog2(c: org.apache.spark.sql.Column) = length(bin(c)) - 1
    val j = cells.groupBy("pair").agg(
      asLong(sum("c")).as("n"),
      asLong(sum(col("c") * ilog2(col("c")))).as("sj"))
    val sa = cells.groupBy("pair", "a").agg(sum("c").as("ra"))
      .groupBy("pair").agg(
        asLong(sum(col("ra") * ilog2(col("ra")))).as("sa"))
    val sb = cells.groupBy("pair", "b").agg(sum("c").as("cb"))
      .groupBy("pair").agg(
        asLong(sum(col("cb") * ilog2(col("cb")))).as("sb"))
    j.join(broadcast(sa), "pair").join(broadcast(sb), "pair")
      .withColumn("nl", col("n") * ilog2(col("n")))
      .select(col("pair"), col("n"),
        (col("nl") - col("sa")).as("h_a_q"),
        (col("nl") - col("sb")).as("h_b_q"),
        (col("nl") - col("sj")).as("h_ab_q"))
      .withColumn("mi_q", col("h_a_q") + col("h_b_q") - col("h_ab_q"))
      .withColumn("mi_rate", col("mi_q").cast("double") / col("n"))
      .orderBy("pair")
  }

  /** The KS tail over a two-half cent histogram (event_type, cent, c1,
    * c2) — the q_profile_ks_drift body from the cumulative CDFs onward,
    * factored (the periodogramOf/gridOf twin-body rule in FUNCTION form)
    * so [[graft.streaming.StreamingKsDrift.report]] runs the IDENTICAL
    * computation over its state-induced histogram. The cumulative
    * windows run over the AGGREGATED (type, cent) relation —
    * value-DOMAIN-bounded rows per type, never corpus-scaled. */
  private[graft] def ksFromHalves(hist: DataFrame): DataFrame = {
    val wc = Window.partitionBy("event_type").orderBy("cent")
    hist
      .withColumn("cum1", sum("c1").over(wc))
      .withColumn("cum2", sum("c2").over(wc))
      .withColumn("n1", sum("c1").over(Window.partitionBy("event_type")))
      .withColumn("n2", sum("c2").over(Window.partitionBy("event_type")))
      .where(col("n1") > 0 && col("n2") > 0)
      .groupBy("event_type")
      .agg(asLong(min("n1")).as("n_first"), asLong(min("n2")).as("n_second"),
        asLong(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))))
          .as("d_num"))
      .selectExpr("event_type", "n_first", "n_second", "d_num",
        "CAST(d_num AS DOUBLE) / n_first / n_second AS ks_d",
        "CAST(1.358 AS DOUBLE) * sqrt(CAST(n_first + n_second AS DOUBLE)" +
          " / n_first / n_second) AS crit_05")
      .selectExpr("event_type", "n_first", "n_second", "d_num", "ks_d",
        "crit_05", "ks_d > crit_05 AS drift_rejected")
      .orderBy("event_type")
  }

  /** The quasi-identifier banding behind q_profile_k_anon, shared with
    * the streaming twin (the twin-body rule): (nation, $100 balance
    * band, segment). Banding shifts cents nonnegative BEFORE the
    * integer division (Spark div truncates vs DuckDB // floors on
    * negatives — the r12c2 signed-div rule). */
  private[graft] def kAnonBanded(customer: DataFrame): DataFrame =
    customer.selectExpr("CAST(c_nationkey AS BIGINT) AS nation",
      "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 10000 AS bal_band",
      "c_mktsegment")

  /** The k-anonymity report tail over a (nation, bal_band, k_size,
    * l_div) class relation — shared by the batch key and the streaming
    * twin's state-induced read; pure integer ops, so the twin is
    * bit-equal by construction. */
  private[graft] def kAnonAssemble(classes: DataFrame): DataFrame =
    classes.withColumn("at_risk", col("k_size") < 5)
      .orderBy("nation", "bal_band")

  def oracle: Seq[(String, String)] = Seq(
    "q_profile_k_anon" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |       (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 10000 AS bal_band,
        |       CAST(count(*) AS BIGINT) AS k_size,
        |       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_div,
        |       count(*) < 5 AS at_risk
        |FROM customer
        |GROUP BY 1, 2
        |ORDER BY nation, bal_band""".stripMargin,

    "q_profile_freq" ->
      """WITH st AS (
        |  SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders),
        |cnt AS (
        |  SELECT col_name, val, CAST(count(*) AS BIGINT) AS n
        |  FROM st GROUP BY 1, 2),
        |rnk AS (
        |  SELECT col_name, val, n,
        |         sum(n) OVER (PARTITION BY col_name) AS tot,
        |         row_number() OVER (PARTITION BY col_name
        |                            ORDER BY n DESC, val ASC) AS rk
        |  FROM cnt)
        |SELECT col_name, CAST(rk AS BIGINT) AS rk, val, n,
        |       CAST(n AS DOUBLE) / tot AS share
        |FROM rnk WHERE rk <= 3 ORDER BY col_name, rk""".stripMargin,

    "q_profile_table" -> {
      def one(name: String, sqlExpr: String) =
        s"""SELECT '$name' AS col_name,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum(CASE WHEN $sqlExpr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |       CAST(count(DISTINCT $sqlExpr) AS BIGINT) AS n_distinct,
           |       CAST(min($sqlExpr) AS DOUBLE) AS min_v,
           |       CAST(max($sqlExpr) AS DOUBLE) AS max_v
           |FROM orders""".stripMargin
      Seq(
        one("o_orderkey", "CAST(o_orderkey AS DOUBLE)"),
        one("o_custkey", "CAST(o_custkey AS DOUBLE)"),
        one("o_totalprice", "o_totalprice"),
        one("o_orderdate_ms", "CAST(epoch_ms(o_orderdate) AS DOUBLE)"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")
    },

    "q_agg_heavy_hitters" ->
      """WITH c AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey),
        |t AS (SELECT count(*) AS n_total FROM lineitem),
        |r AS (
        |  SELECT l_partkey, c,
        |         row_number() OVER (ORDER BY c DESC, l_partkey) AS rn,
        |         CAST(sum(c) OVER (ORDER BY c DESC, l_partkey) AS BIGINT) AS cum_c
        |  FROM c)
        |SELECT l_partkey, c,
        |       CAST(c AS DOUBLE) / n_total AS share,
        |       cum_c,
        |       CAST(cum_c AS DOUBLE) / n_total AS cum_share
        |FROM r CROSS JOIN t WHERE rn <= 20
        |ORDER BY c DESC, l_partkey""".stripMargin,

    "q_agg_zscore_outlier" ->
      """WITH st AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1d,
        |         CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s2d
        |  FROM events GROUP BY event_type),
        |p AS (
        |  SELECT event_type, s1d / n AS mean,
        |         sqrt(s2d / n - (s1d / n) * (s1d / n)) AS std
        |  FROM st)
        |SELECT e.event_id, e.event_type, e.value,
        |       (e.value - p.mean) / p.std AS z
        |FROM events e JOIN p USING (event_type)
        |WHERE abs((e.value - p.mean) / p.std) > 2.5
        |ORDER BY e.event_id""".stripMargin,

    "q_win_winsorize" ->
      """WITH s AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |p AS (
        |  SELECT event_type,
        |         max(CASE WHEN rn = (n + 19) // 20 THEN value END) AS p05,
        |         max(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS p95
        |  FROM s GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |       least(greatest(e.value, p.p05), p.p95) AS value_w
        |FROM events e JOIN p USING (event_type)
        |ORDER BY e.event_id""".stripMargin,

    "q_agg_skew" ->
      s"""WITH k0 AS (
         |  SELECT event_type,
         |         CAST(round(value * 100) AS BIGINT) AS k,
         |         CAST(round(value * 100) AS BIGINT)
         |           * CAST(round(value * 100) AS BIGINT) AS k2
         |  FROM events),
         |k AS (SELECT event_type, k, k2, k2 * k AS k3,
         |             k2 // 65536 AS a, k2 % 65536 AS b FROM k0),
         |st AS (
         |  SELECT event_type, count(*) AS n,
         |         CAST(sum(k) AS DOUBLE) AS s1d,
         |         CAST(sum(k2) AS DOUBLE) AS s2d,
         |         CAST(sum(CAST(k3 // $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS s3hid,
         |         CAST(sum(CAST(k3 % $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS s3lod,
         |         CAST(sum(CAST(a * a AS DECIMAL(38,0))) AS DOUBLE) AS s4aad,
         |         CAST(sum(CAST(2 * a * b AS DECIMAL(38,0))) AS DOUBLE) AS s4abd,
         |         CAST(sum(CAST(b * b AS DECIMAL(38,0))) AS DOUBLE) AS s4bbd
         |  FROM k GROUP BY event_type)
         |SELECT event_type, CAST(n AS BIGINT) AS n,
         |       ${momentFormulas.mkString(",\n       ")}
         |FROM st ORDER BY event_type""".stripMargin,

    // Expected shares embedded from the same code-gen-time constants
    // (shortest-round-trip double literals CAST to DOUBLE parse to the
    // identical doubles); first digit via the BIGINT string cast.
    // `g` is read twice -> MATERIALIZED.
    "q_profile_benford" -> {
      // `e0` forces a DOUBLE literal parse (strtod, correctly rounded):
      // a bare decimal literal would parse as DECIMAL and take DuckDB's
      // limb-wise decimal→double conversion — measured 1 ulp off the
      // Java shortest-round-trip parse on digit 3 (the r6 rule in
      // literal form).
      val vals = BenfordShares
        .map { case (d, sh) => s"($d, CAST(${sh}e0 AS DOUBLE))" }.mkString(", ")
      s"""WITH d AS (
         |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS first_digit
         |  FROM orders),
         |g AS MATERIALIZED (
         |  SELECT first_digit, CAST(count(*) AS BIGINT) AS n
         |  FROM d WHERE first_digit BETWEEN 1 AND 9 GROUP BY first_digit),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g),
         |e AS (SELECT * FROM (VALUES $vals) v(first_digit, benford_share))
         |SELECT e.first_digit,
         |       COALESCE(g.n, 0) AS n,
         |       CAST(COALESCE(g.n, 0) AS DOUBLE) / total AS share,
         |       e.benford_share,
         |       abs(CAST(COALESCE(g.n, 0) AS DOUBLE) / total - e.benford_share) AS abs_dev
         |FROM e LEFT JOIN g USING (first_digit) CROSS JOIN t
         |ORDER BY e.first_digit""".stripMargin
    },

    // Generated from the same FdCols/FdPairs lists as the engine (single
    // source of truth); counts distinct RAW values — equal to the
    // engine's digest counts by injectivity on the observed domains.
    // `s` is read twice -> MATERIALIZED (CLAUDE rule).
    "q_profile_fd" -> {
      val singleSql = FdCols.map { case (nm, _) =>
        s"SELECT '$nm' AS c, CAST(count(DISTINCT $nm) AS BIGINT) AS nd FROM lineitem"
      }.mkString("\n  UNION ALL\n  ")
      val pairSql = FdPairs.map { case (i, j) =>
        val (a, b) = (FdCols(i)._1, FdCols(j)._1)
        s"SELECT '$a|$b' AS p, CAST(count(*) AS BIGINT) AS nd_ab " +
          s"FROM (SELECT DISTINCT $a, $b FROM lineitem)"
      }.mkString("\n  UNION ALL\n  ")
      val defVals = FdPairs.map { case (i, j) =>
        s"('${FdCols(i)._1}|${FdCols(j)._1}', '${FdCols(i)._1}', '${FdCols(j)._1}')"
      }.mkString(",\n       ")
      s"""WITH nr AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem),
         |s AS MATERIALIZED ($singleSql),
         |pp AS ($pairSql),
         |defs AS (SELECT * FROM (VALUES $defVals) v(p, col_a, col_b))
         |SELECT col_a, col_b, n_rows, sa.nd AS nd_a, sb.nd AS nd_b,
         |       pp.nd_ab AS nd_ab,
         |       pp.nd_ab = sa.nd AS fd_a_to_b,
         |       pp.nd_ab = sb.nd AS fd_b_to_a,
         |       sa.nd = n_rows AS key_a,
         |       sb.nd = n_rows AS key_b
         |FROM defs JOIN pp USING (p)
         |JOIN s sa ON sa.c = col_a
         |JOIN s sb ON sb.c = col_b
         |CROSS JOIN nr
         |ORDER BY col_a, col_b""".stripMargin
    },

    "q_agg_diversity" ->
      s"""WITH cl AS (
         |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
         |  FROM documents GROUP BY source, lang),
         |sr AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
         |         CAST(count(*) AS BIGINT) AS n_langs,
         |         CAST(sum(c * c) AS BIGINT) AS sc2
         |  FROM cl GROUP BY source)
         |SELECT source, n, n_langs,
         |       ${diversityFormulas.mkString(",\n       ")}
         |FROM sr ORDER BY source""".stripMargin,

    "q_profile_ks_drift" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS h,
         |         CAST(round(value * 100) AS BIGINT) AS cent
         |  FROM events),
         |m AS (SELECT (min(h) + max(h)) // 2 AS hmid FROM e),
         |hist AS (
         |  SELECT event_type, cent,
         |         CAST(sum(CASE WHEN h <= hmid THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |         CAST(sum(CASE WHEN h > hmid THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM e CROSS JOIN m GROUP BY event_type, cent),
         |cum AS (
         |  SELECT event_type,
         |         sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
         |         sum(c1) OVER t AS n1, sum(c2) OVER t AS n2
         |  FROM hist
         |  WINDOW w AS (PARTITION BY event_type ORDER BY cent
         |               ROWS UNBOUNDED PRECEDING),
         |         t AS (PARTITION BY event_type)),
         |agg AS (
         |  SELECT event_type,
         |         CAST(min(n1) AS BIGINT) AS n_first,
         |         CAST(min(n2) AS BIGINT) AS n_second,
         |         CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num
         |  FROM cum WHERE n1 > 0 AND n2 > 0 GROUP BY event_type),
         |sc AS (
         |  SELECT event_type, n_first, n_second, d_num,
         |         CAST(d_num AS DOUBLE) / n_first / n_second AS ks_d,
         |         CAST(1.358 AS DOUBLE) * sqrt(CAST(n_first + n_second AS DOUBLE) / n_first / n_second) AS crit_05
         |  FROM agg)
         |SELECT event_type, n_first, n_second, d_num, ks_d, crit_05,
         |       ks_d > crit_05 AS drift_rejected
         |FROM sc ORDER BY event_type""".stripMargin,

    // same generated term/V strings as the engine; cells MATERIALIZED
    // (four consumers); the ordered fold is the profile_drift idiom
    "q_profile_cramers_v" ->
      s"""WITH st AS (
         |  SELECT 'status_x_priority' AS pair, o_orderstatus AS a,
         |         o_orderpriority AS b
         |  FROM orders
         |  UNION ALL
         |  SELECT 'segment_x_nation', c_mktsegment,
         |         CAST(c_nationkey AS VARCHAR)
         |  FROM customer),
         |cells AS MATERIALIZED (
         |  SELECT pair, a, b, CAST(count(*) AS BIGINT) AS c
         |  FROM st GROUP BY pair, a, b),
         |rr AS (SELECT pair, a, CAST(sum(c) AS BIGINT) AS ra
         |       FROM cells GROUP BY pair, a),
         |cc AS (SELECT pair, b, CAST(sum(c) AS BIGINT) AS cb
         |       FROM cells GROUP BY pair, b),
         |tot AS (SELECT pair, CAST(sum(c) AS BIGINT) AS n,
         |               CAST(count(DISTINCT a) AS BIGINT) AS r_levels,
         |               CAST(count(DISTINCT b) AS BIGINT) AS c_levels
         |        FROM cells GROUP BY pair),
         |tcells AS (
         |  SELECT cells.pair, cells.a, cells.b, tot.n, tot.r_levels,
         |         tot.c_levels, rr.ra, cc.cb,
         |         cells.c * tot.n - rr.ra * cc.cb AS t
         |  FROM cells
         |  JOIN rr USING (pair, a) JOIN cc USING (pair, b)
         |  JOIN tot USING (pair)),
         |tm AS (
         |  SELECT pair, n, r_levels, c_levels,
         |         list(struct_pack(a := a, b := b, term := $cramersTermExpr)
         |              ORDER BY a, b) AS terms
         |  FROM tcells GROUP BY pair, n, r_levels, c_levels),
         |ch AS (
         |  SELECT pair, n, r_levels, c_levels,
         |         list_reduce(
         |           list_prepend(CAST(0 AS DOUBLE),
         |                        list_transform(terms, x -> x.term)),
         |           (p, q) -> p + q) AS chi2
         |  FROM tm)
         |SELECT pair, n, r_levels, c_levels, chi2,
         |       $cramersVFormula
         |FROM ch ORDER BY pair""".stripMargin,

    // same ilog2 quanta idiom as the q_text_source_mi oracle, over the
    // shared categorical pair stack; cells MATERIALIZED (three readers)
    "q_profile_cat_mi" ->
      s"""WITH st AS (
         |  SELECT 'status_x_priority' AS pair, o_orderstatus AS a,
         |         o_orderpriority AS b
         |  FROM orders
         |  UNION ALL
         |  SELECT 'segment_x_nation', c_mktsegment,
         |         CAST(c_nationkey AS VARCHAR)
         |  FROM customer),
         |cells AS MATERIALIZED (
         |  SELECT pair, a, b, CAST(count(*) AS BIGINT) AS c
         |  FROM st GROUP BY pair, a, b),
         |j AS (SELECT pair, CAST(sum(c) AS BIGINT) AS n,
         |             CAST(sum(c * (length(bin(c)) - 1)) AS BIGINT) AS sj
         |      FROM cells GROUP BY pair),
         |sa AS (SELECT pair,
         |              CAST(sum(ra * (length(bin(ra)) - 1)) AS BIGINT) AS sa
         |       FROM (SELECT pair, a, CAST(sum(c) AS BIGINT) AS ra
         |             FROM cells GROUP BY pair, a) GROUP BY pair),
         |sb AS (SELECT pair,
         |              CAST(sum(cb * (length(bin(cb)) - 1)) AS BIGINT) AS sb
         |       FROM (SELECT pair, b, CAST(sum(c) AS BIGINT) AS cb
         |             FROM cells GROUP BY pair, b) GROUP BY pair),
         |m AS (
         |  SELECT j.pair, j.n,
         |         j.n * (length(bin(j.n)) - 1) - sa.sa AS h_a_q,
         |         j.n * (length(bin(j.n)) - 1) - sb.sb AS h_b_q,
         |         j.n * (length(bin(j.n)) - 1) - j.sj AS h_ab_q
         |  FROM j JOIN sa USING (pair) JOIN sb USING (pair))
         |SELECT pair, n, h_a_q, h_b_q, h_ab_q,
         |       h_a_q + h_b_q - h_ab_q AS mi_q,
         |       CAST(h_a_q + h_b_q - h_ab_q AS DOUBLE) / n AS mi_rate
         |FROM m ORDER BY pair""".stripMargin,

    "q_profile_drift" ->
      s"""WITH e AS (
         |  SELECT epoch_us(ts) // $HourUs AS h,
         |         CAST(round(value * 100) AS BIGINT) // $WinsorBucket AS bucket,
         |         value
         |  FROM events),
         |md AS (SELECT (min(h) + max(h)) // 2 AS hmid FROM e),
         |bk AS MATERIALIZED (
         |  SELECT bucket,
         |         CAST(sum(CASE WHEN h <= md.hmid THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |         CAST(sum(CASE WHEN h > md.hmid THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |         sum(CASE WHEN h <= md.hmid THEN CAST(value AS DECIMAL(18,4)) END) AS s1dec,
         |         sum(CASE WHEN h > md.hmid THEN CAST(value AS DECIMAL(18,4)) END) AS s2dec
         |  FROM e CROSS JOIN md GROUP BY bucket),
         |tot AS (
         |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
         |         CAST(sum(s1dec) AS DOUBLE) AS s1d, CAST(sum(s2dec) AS DOUBLE) AS s2d
         |  FROM bk),
         |tm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |         list(struct_pack(bucket := bucket, term := $driftTermExpr)
         |              ORDER BY bucket) AS terms
         |  FROM bk CROSS JOIN tot)
         |SELECT tot.n1, tot.n2, tm.n_buckets,
         |       tot.s1d / tot.n1 AS mean_first, tot.s2d / tot.n2 AS mean_second,
         |       list_reduce(
         |         list_prepend(CAST(0 AS DOUBLE),
         |                      list_transform(tm.terms, x -> x.term)),
         |         (a, b) -> a + b) AS chi2
         |FROM tm CROSS JOIN tot""".stripMargin,

    // mom is read by all six pair rows -> MATERIALIZED; every SELECT is
    // generated from the same Scala builders as the engine formulas
    "q_profile_corr" -> {
      val quant = corrVars.map { case (nm, src) =>
        s"CAST(round($src * 100) AS BIGINT) AS $nm" }.mkString(",\n         |       ")
      val sums = corrVars.map { case (nm, _) =>
        s"CAST(CAST(sum($nm) AS BIGINT) AS DOUBLE) AS s_$nm" }
      val moments = corrSelfAndCross.flatMap { case (a, b) => Seq(
        s"CAST(sum(CAST($a * $b // $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS m_${a}_${b}_hi",
        s"CAST(sum(CAST($a * $b % $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS m_${a}_${b}_lo")
      }
      val rows = corrSelfAndCross.filter { case (a, b) => a != b }
        .map { case (a, b) =>
          s"SELECT '$a' AS var_a, '$b' AS var_b, n, ${corrFormula(a, b)} AS corr FROM mom"
        }
      s"""WITH q AS (
         |  SELECT $quant
         |  FROM lineitem),
         |mom AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |       ${(sums ++ moments).mkString(",\n         |       ")}
         |  FROM q)
         |SELECT * FROM (
         |${rows.mkString("\n|UNION ALL\n")}
         |) ORDER BY var_a, var_b""".stripMargin
    },

    "q_profile_integrity" -> {
      def edge(child: String, fk: String, parent: String, pk: String,
          label: String) =
        s"""SELECT '$label' AS fk_edge,
           |       (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_child,
           |       CAST(count(*) AS BIGINT) AS n_orphans,
           |       CAST(count(*) AS DOUBLE)
           |         / (SELECT count(*) FROM $child) AS orphan_rate
           |FROM $child c
           |WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)""".stripMargin
      Seq(
        edge("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem->orders"),
        edge("lineitem", "l_partkey", "part", "p_partkey", "lineitem->part"),
        edge("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem->supplier"),
        edge("orders", "o_custkey", "customer", "c_custkey", "orders->customer"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY fk_edge")
    },

    "q_agg_countmin" -> {
      val P = ReplayableHash.P
      s"""WITH c AS (
         |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
         |  FROM lineitem GROUP BY l_partkey),
         |pr AS ${ReplayableHash.paramsSql(ReplayableHash.CountMinParams, CmDepth, "v")},
         |cells AS MATERIALIZED (
         |  SELECT pr.k AS r, ((pr.a * (c.l_partkey % $P) + pr.b) % $P) % $CmWidth AS cm_col,
         |         CAST(sum(c.c) AS BIGINT) AS cell
         |  FROM c CROSS JOIN pr GROUP BY 1, 2),
         |top AS (SELECT l_partkey, c FROM c ORDER BY c DESC, l_partkey LIMIT 20),
         |est AS (
         |  SELECT t.l_partkey, t.c, min(cells.cell) AS c_est
         |  FROM top t CROSS JOIN pr
         |  JOIN cells ON cells.r = pr.k
         |   AND cells.cm_col = ((pr.a * (t.l_partkey % $P) + pr.b) % $P) % $CmWidth
         |  GROUP BY t.l_partkey, t.c)
         |SELECT l_partkey, c AS c_true, CAST(c_est AS BIGINT) AS c_est,
         |       CAST(c_est - c AS BIGINT) AS overest
         |FROM est ORDER BY c_true DESC, l_partkey""".stripMargin
    },

    "q_agg_kmv_distinct" -> {
      val P = ReplayableHash.P
      val (a, b) = ReplayableHash.KmvParams.head
      s"""WITH h AS (
         |  SELECT DISTINCT event_type, ($a * (user_id % $P) + $b) % $P AS hv
         |  FROM events),
         |r AS (
         |  SELECT event_type, hv,
         |         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk,
         |         count(*) OVER (PARTITION BY event_type) AS nd
         |  FROM h),
         |k AS (
         |  SELECT event_type, min(nd) AS nd,
         |         max(CASE WHEN rk = least(nd, $KmvK) THEN hv END) AS kth_hash
         |  FROM r WHERE rk <= $KmvK GROUP BY event_type),
         |e AS (
         |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM events GROUP BY event_type)
         |SELECT k.event_type, e.n_exact,
         |       CAST(least(k.nd, $KmvK) AS BIGINT) AS sketch_size,
         |       CAST(k.kth_hash AS BIGINT) AS kth_hash,
         |       CASE WHEN k.nd < $KmvK THEN CAST(k.nd AS DOUBLE)
         |            ELSE CAST(${KmvK - 1} AS DOUBLE) * CAST($P AS DOUBLE) / CAST(k.kth_hash AS DOUBLE)
         |       END AS est_distinct
         |FROM k JOIN e ON k.event_type = e.event_type
         |ORDER BY k.event_type""".stripMargin
    },

    // single-node DuckDB may run the naive per-group cumulative — the
    // bucketed two-level shape is the ENGINE's scale discipline, the
    // oracle only has to agree on the selected value
    "q_agg_weighted_median" ->
      """WITH h AS (
        |  SELECT l_returnflag AS grp,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cent,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT grp, cent, w,
        |         sum(w) OVER (PARTITION BY grp ORDER BY cent) AS cw,
        |         sum(w) OVER (PARTITION BY grp) AS tw
        |  FROM h)
        |SELECT grp AS l_returnflag,
        |       CAST(min(tw) AS BIGINT) AS total_weight,
        |       CAST(min(CASE WHEN cw * 2 >= tw THEN cent END) AS DOUBLE) / 100 AS w_median
        |FROM c GROUP BY grp ORDER BY l_returnflag""".stripMargin
  )
}
