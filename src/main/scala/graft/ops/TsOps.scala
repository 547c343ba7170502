package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ReplayableHash

/** Time-series operator family (SURVEY §2B, split out of DiagOps in r13
  * — the mega-module split, verdict item 8): gap-fill / interpolation,
  * OHLC and candles, correlograms (acf/pacf/Ljung-Box), spectral
  * (periodogram), trend and changepoint (OLS, CUSUM, Mann-Kendall,
  * Theil-Sen), distribution tests (ANOVA, runs test), robust anomaly
  * flags (MAD), LTTB downsampling, Bollinger bands, EWMA, seasonal
  * profiles, and the naive forecast.
  *
  * All shared machinery (the hourly cent grid, the rank-selection
  * histograms, the staged formula sets) stays in [[DiagOps]] — the
  * queries here are the DECLARATIVE layer over it, and the inner
  * `import DiagOps._` keeps every moved body textually identical to its
  * pre-split form (zero behavior drift; the DuckDB hash gate pins it).
  */
object TsOps extends QueryModule {

  import DiagOps._

  /** Shared ADF (Dickey–Fuller) projections over (m, sxd, syd, sxxd,
    * sxyd, syyd) — ONE formula set in both engines. The test regresses
    * k_t on k_{t−1} (the AR(1) form: β_DF = ρ − 1 algebraically, and
    * y = k_t keeps EVERY cross-sum nonnegative, so the hi/lo div/%
    * splits agree across engines — Spark `div` truncates while DuckDB
    * `//` floors, which only coincide on nonnegative operands; the
    * Δk-on-lag form would need signed-product splits). Each stage is a
    * NAMED column (the abtest staging rule — no subexpression is
    * re-derived), every op an IEEE +,−,×,/ or sqrt in fixed order over
    * exact-integer-derived doubles. −2.86 is the classic 5% critical
    * value for the constant-included DF regression at large n. */
  private val adfStage1: Seq[String] = Seq(
    "(m * sxyd - sxd * syd) / (m * sxxd - sxd * sxd) AS rho",
    "(m * sxxd - sxd * sxd) AS den")
  private val adfStage2: Seq[String] = Seq(
    "(syd - rho * sxd) / m AS alpha")
  private val adfStage3: Seq[String] = Seq(
    "syyd - alpha * syd - rho * sxyd AS sse")
  private val adfStage4: Seq[String] = Seq(
    "(rho - CAST(1 AS DOUBLE)) / sqrt(sse / (m - 2) * m / den) AS adf_t")

  /** q_ts_granger stage formulas: centered second moments, the 2×2
    * normal-equation solve of the unrestricted y ~ (1, y_lag, x_lag)
    * fit, restricted/unrestricted SSEs, and the F statistic — each a
    * NAMED column (the abtest staging rule: no subexpression is
    * re-derived), every op an IEEE +,−,×,/ in fixed order over
    * exact-integer-derived doubles, shared VERBATIM with the DuckDB
    * oracle (the adfStage pattern). 3.84 is the F(1, ∞) 5% critical
    * value (CAST per the bm25 literal rule). */
  private val grStage1: Seq[String] = Seq(
    "sx1x1d - sx1d * sx1d / m AS s11",
    "sx2x2d - sx2d * sx2d / m AS s22",
    "sx1x2d - sx1d * sx2d / m AS s12",
    "sx1yd - sx1d * syd / m AS s1y",
    "sx2yd - sx2d * syd / m AS s2y",
    "syyd - syd * syd / m AS syy")
  private val grStage2: Seq[String] = Seq(
    "s11 * s22 - s12 * s12 AS det")
  // degenerate fits drop BEFORE any division (a constant or collinear
  // pair has no defined F; the same predicate runs in both engines)
  private val grGuardDet = "det > CAST(0 AS DOUBLE) AND s11 > CAST(0 AS DOUBLE)"
  private val grStage3: Seq[String] = Seq(
    "(s1y * s22 - s2y * s12) / det AS b1",
    "(s2y * s11 - s1y * s12) / det AS b2")
  private val grStage4: Seq[String] = Seq(
    "syy - b1 * s1y - b2 * s2y AS sse_u",
    "syy - s1y * s1y / s11 AS sse_r")
  private val grGuardSse = "sse_u > CAST(0 AS DOUBLE)"
  private val grStage5: Seq[String] = Seq(
    "(sse_r - sse_u) * (m - 3) / sse_u AS f_stat")

  /** The q_ts_granger body over ANY `(event_type, h, k)` grid —
    * factored like [[adfOf]] so a state-induced grid replays it. */
  private[graft] def grangerOf(g: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("h")
    // the adf nonnegativity guard: signed-product div/% splits diverge
    // between Spark (truncate) and DuckDB (floor)
    val gg = g.where(coalesce(assert_true(col("k") >= 0,
      lit("granger guard: negative grid cents — the signed cross-product " +
        "div/% split diverges between Spark and DuckDB")), lit(true)))
    val lagged = gg.withColumn("xk", lag("k", 1).over(w))
      .where(col("xk").isNotNull)
    val ys = lagged.select(col("event_type").as("dst_type"), col("h"),
      col("k").as("y"), col("xk").as("x1"))
    val xs = lagged.select(col("event_type").as("src_type"), col("h"),
      col("xk").as("x2"))
    def split2(e: String, n: String) = Seq(
      sum(expr(s"($e) div $MomentSplit")).as(s"${n}hi"),
      sum(expr(s"($e) % $MomentSplit")).as(s"${n}lo"))
    def recomb(n: String) =
      s"CAST(${n}hi AS DOUBLE) * $MomentSplit.0 + CAST(${n}lo AS DOUBLE) AS ${n}d"
    val base = Seq("dst_type", "src_type", "n_pairs", "m")
    ys.join(xs, "h").where(col("src_type") =!= col("dst_type"))
      .groupBy("dst_type", "src_type")
      .agg(count(lit(1)).as("m"),
        (Seq(sum("x1").as("sx1"), sum("x2").as("sx2"), sum("y").as("sy")) ++
          split2("x1 * x1", "sx1x1") ++ split2("x2 * x2", "sx2x2") ++
          split2("x1 * x2", "sx1x2") ++ split2("x1 * y", "sx1y") ++
          split2("x2 * y", "sx2y") ++ split2("y * y", "syy")): _*)
      .selectExpr(Seq("dst_type", "src_type", "CAST(m AS BIGINT) AS n_pairs",
        "m", "CAST(sx1 AS DOUBLE) AS sx1d", "CAST(sx2 AS DOUBLE) AS sx2d",
        "CAST(sy AS DOUBLE) AS syd") ++
        Seq("sx1x1", "sx2x2", "sx1x2", "sx1y", "sx2y", "syy").map(recomb): _*)
      .selectExpr(base ++ Seq("sx1d", "sx2d", "syd", "sx1x1d", "sx2x2d",
        "sx1x2d", "sx1yd", "sx2yd", "syyd") ++ grStage1: _*)
      .selectExpr(base ++ Seq("s11", "s22", "s12", "s1y", "s2y", "syy")
        ++ grStage2: _*)
      .where(expr(grGuardDet))
      .selectExpr(base ++ Seq("s11", "s1y", "s2y", "syy") ++ grStage3: _*)
      .selectExpr(base ++ Seq("s11", "s1y", "s2y", "syy", "b2") ++ grStage4: _*)
      .where(expr(grGuardSse))
      .selectExpr(base ++ Seq("b2", "sse_u", "sse_r") ++ grStage5: _*)
      .selectExpr("dst_type", "src_type", "n_pairs", "b2 AS cross_coef",
        "f_stat", "f_stat > CAST(3.84 AS DOUBLE) AS granger_rejected_05")
      .orderBy("dst_type", "src_type")
  }

  /** q_ts_hurst: rescaled-range window widths (hours). Two widths make
    * the profile a PROFILE (R/S growth across scales is the Hurst
    * signal); the log-log exponent fit is deliberately NOT computed —
    * log does not replay across engines (the abtest erf rule), the
    * per-scale mean R/S carries the information. */
  private val HurstWindows = Seq(64L, 256L)

  /** The q_ts_adf body over ANY `(event_type, h, k)` grid — factored
    * (the periodogramOf/gridOf twin-body rule in function form) so
    * [[graft.streaming.StreamingPeriodogram.adfReport]] runs the
    * IDENTICAL computation over its state-induced grid. */
  /** The q_ts_pacf Durbin–Levinson tail over an already-built per-lag
    * correlogram relation — factored (r15) so the streaming spectral
    * monitor's pacf read runs the IDENTICAL batch chain (the adfOf/
    * hurstOf function-form twin-body rule; q_ts_pacf passes
    * DiagOps.acfRelOf, the stream read passes acfRelFromHourly over the
    * state bars). */
  private[graft] def pacfFromRel(rel: DataFrame): DataFrame = {
    val piv = rel.groupBy("event_type")
      .agg(max(when(col("lag_h") === 1, col("acf"))).as("r1"),
        max(when(col("lag_h") === 2, col("acf"))).as("r2"),
        max(when(col("lag_h") === 3, col("acf"))).as("r3"))
    val base = Seq("event_type", "r1", "r2", "r3")
    piv
      .selectExpr(base :+ pacfStage1: _*)
      .selectExpr(base ++ Seq("phi11") ++ pacfStage2: _*)
      .selectExpr(base ++ Seq("phi11", "den2", "num2") :+ pacfStage3: _*)
      .selectExpr(base ++ Seq("phi11", "phi22") :+ pacfStage4: _*)
      .selectExpr(base ++ Seq("phi11", "phi22", "phi21") ++ pacfStage5: _*)
      .selectExpr(base ++ Seq("phi11", "phi22", "num3", "den3")
        :+ pacfStage6: _*)
      .selectExpr(base ++ Seq("phi11 AS pacf1", "phi22 AS pacf2",
        "phi33 AS pacf3"): _*)
      .orderBy("event_type")
  }

  /** The q_ts_ljung_box portmanteau tail over an already-built per-lag
    * correlogram relation — same factoring rationale as [[pacfFromRel]]. */
  private[graft] def ljungFromRel(rel: DataFrame): DataFrame = {
    val aggs = (1 to 5).flatMap(k => Seq(
      max(when(col("lag_h") === k, col("acf"))).as(s"r$k"),
      asLong(max(when(col("lag_h") === k, col("n")))).as(s"n$k")))
    val piv = rel.groupBy("event_type")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("n_obs", expr("n1 + 1"))
    val base = Seq("event_type", "n_obs") ++ (1 to 5).map(k => s"r$k") ++
      (1 to 5).map(k => s"n$k")
    piv
      .selectExpr(base :+ lbQFormula: _*)
      .selectExpr(Seq("event_type", "CAST(n_obs AS BIGINT) AS n_obs",
        "q_stat") :+ lbVerdictFormula: _*)
      .orderBy("event_type")
  }

  private[graft] def adfOf(g: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("h")
    // r13 advisor note: the xk·k hi/lo split replays in DuckDB only while
    // both operands are nonnegative (Spark `div` truncates, DuckDB `//`
    // floors — they diverge on signed products). The fixture's cent grid
    // is nonnegative by construction; a future fixture with negative
    // event values must fail LOUDLY here, not as a bare hash mismatch.
    val gg = g.where(coalesce(assert_true(col("k") >= 0,
      lit("adf guard: negative grid cents — the signed cross-product " +
        "div/% split diverges between Spark (truncate) and DuckDB " +
        "(floor); switch to signed-safe splits before re-oracling")),
      lit(true)))
    gg.withColumn("xk", lag("k", 1).over(w))
      .where(col("xk").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("m"),
        sum("xk").as("sx"), sum("k").as("sy"),
        sum(expr(s"(xk * xk) div $MomentSplit")).as("sxxhi"),
        sum(expr(s"(xk * xk) % $MomentSplit")).as("sxxlo"),
        sum(expr(s"(xk * k) div $MomentSplit")).as("sxyhi"),
        sum(expr(s"(xk * k) % $MomentSplit")).as("sxylo"),
        sum(expr(s"(k * k) div $MomentSplit")).as("syyhi"),
        sum(expr(s"(k * k) % $MomentSplit")).as("syylo"))
      .selectExpr("event_type", "CAST(m AS BIGINT) AS n_pairs", "m",
        "CAST(sx AS DOUBLE) AS sxd", "CAST(sy AS DOUBLE) AS syd",
        s"CAST(sxxhi AS DOUBLE) * $MomentSplit.0 + CAST(sxxlo AS DOUBLE) AS sxxd",
        s"CAST(sxyhi AS DOUBLE) * $MomentSplit.0 + CAST(sxylo AS DOUBLE) AS sxyd",
        s"CAST(syyhi AS DOUBLE) * $MomentSplit.0 + CAST(syylo AS DOUBLE) AS syyd")
      .selectExpr(Seq("event_type", "n_pairs", "m", "sxd", "syd",
        "sxyd", "syyd") ++ adfStage1: _*)
      .selectExpr(Seq("event_type", "n_pairs", "m", "sxd", "syd",
        "sxyd", "syyd", "rho", "den") ++ adfStage2: _*)
      .selectExpr(Seq("event_type", "n_pairs", "m", "syd", "sxyd",
        "rho", "den", "alpha") ++ adfStage3: _*)
      .selectExpr(Seq("event_type", "n_pairs", "m", "rho", "den",
        "sse") ++ adfStage4: _*)
      .selectExpr("event_type", "n_pairs", "rho", "adf_t",
        "adf_t < CAST(-2.86 AS DOUBLE) AS unit_root_rejected_05")
      .orderBy("event_type")
  }

  /** q_ts_coint OLS stage (the level regression y ~ a + b·x) — exact
    * hi/lo BIGINT moments in, two staged double formulas out, shared
    * VERBATIM with the oracle. */
  private val coStageB: Seq[String] = Seq(
    "(m * sxyd - sxd * syd) / (m * sxxd - sxd * sxd) AS beta")
  private val coStageA: Seq[String] = Seq(
    "(syd - beta * sxd) / m AS alpha0")
  // the level regression degenerates on a constant x series
  private val coGuardLevel = "m * sxxd - sxd * sxd > CAST(0 AS DOUBLE)"
  /** The residual projection — ONE string, fixed op order. */
  private val coResidual =
    "(CAST(y AS DOUBLE) - alpha0) - beta * CAST(x AS DOUBLE) AS e"
  // DF residual-regression guards (the staged chain divides by den and
  // takes sqrt(sse·…)): degenerate residual series drop in BOTH engines
  private val coGuardDen = "den > CAST(0 AS DOUBLE)"
  private val coGuardSse = "sse > CAST(0 AS DOUBLE)"

  /** The q_ts_coint body over ANY `(event_type, h, k)` grid (r14):
    * Engle–Granger two-step cointegration per ordered type pair —
    * (1) OLS of dst's level on src's level from exact hi/lo BIGINT
    * moments; (2) the Dickey–Fuller t on the RESIDUAL series, whose
    * sums are DOUBLES accumulated through ORDERED folds over the
    * h-sorted collected residual pairs (the profile_drift rule; the
    * residual relation is TIME-SPAN-bounded, so the collect is bounded
    * at any corpus size), feeding the SAME adfStage1..4 formula strings
    * the batch ADF uses (sums named sxd/syd/… exactly so the stages are
    * shared verbatim — the twin-body rule). Declared convention:
    * constant-included DF on residuals, −3.34 Engle–Granger 5% critical
    * value. */
  private[graft] def cointOf(g: DataFrame): DataFrame = {
    val w = Window.partitionBy("dst_type", "src_type").orderBy("h")
    val gg = g.where(coalesce(assert_true(col("k") >= 0,
      lit("coint guard: negative grid cents — the signed cross-product " +
        "div/% split diverges between Spark and DuckDB")), lit(true)))
    val ys = gg.select(col("event_type").as("dst_type"), col("h"),
      col("k").as("y"))
    val xs = gg.select(col("event_type").as("src_type"), col("h"),
      col("k").as("x"))
    // span-bounded (types² × hours); materialized once — the OLS moment
    // agg AND the residual stage both read it, and without the
    // checkpoint the grid build + hour join run twice (measured 0.98 →
    // 0.56 s at sf0.1 idle full-suite runs; the oracle's rel is MATERIALIZED for the same
    // two readers)
    val rel = ys.join(xs, "h").where(col("src_type") =!= col("dst_type"))
      .localCheckpoint(true)
    def split2(e: String, n: String) = Seq(
      sum(expr(s"($e) div $MomentSplit")).as(s"${n}hi"),
      sum(expr(s"($e) % $MomentSplit")).as(s"${n}lo"))
    def recomb(n: String) =
      s"CAST(${n}hi AS DOUBLE) * $MomentSplit.0 + CAST(${n}lo AS DOUBLE) AS ${n}d"
    val ols = rel.groupBy("dst_type", "src_type")
      .agg(count(lit(1)).as("m"),
        (Seq(sum("x").as("sx"), sum("y").as("sy")) ++
          split2("x * x", "sxx") ++ split2("x * y", "sxy")): _*)
      .selectExpr(Seq("dst_type", "src_type", "m",
        "CAST(sx AS DOUBLE) AS sxd", "CAST(sy AS DOUBLE) AS syd") ++
        Seq("sxx", "sxy").map(recomb): _*)
      .where(expr(coGuardLevel))
      .selectExpr(Seq("dst_type", "src_type", "m", "sxd", "syd",
        "sxxd", "sxyd") ++ coStageB: _*)
      .selectExpr(Seq("dst_type", "src_type", "beta") ++ coStageA: _*)
    val resid = rel.join(broadcast(ols), Seq("dst_type", "src_type"))
      .selectExpr("dst_type", "src_type", "h", "beta", coResidual)
      .withColumn("pe", lag("e", 1).over(w))
      .where(col("pe").isNotNull)
    def fold(fieldExpr: String, name: String) =
      s"aggregate(terms, CAST(0 AS DOUBLE), (acc, t) -> acc + $fieldExpr) AS $name"
    resid.groupBy("dst_type", "src_type")
      .agg(first("beta").as("beta"),
        count(lit(1)).as("m"),
        sort_array(collect_list(struct(col("h"), col("e"), col("pe"))))
          .as("terms"))
      .selectExpr("dst_type", "src_type", "beta",
        "CAST(m AS BIGINT) AS n_pairs", "m",
        fold("t.pe", "sxd"), fold("t.e", "syd"),
        fold("t.pe * t.pe", "sxxd"), fold("t.pe * t.e", "sxyd"),
        fold("t.e * t.e", "syyd"))
      .selectExpr(Seq("dst_type", "src_type", "beta", "n_pairs", "m",
        "sxd", "syd", "sxyd", "syyd") ++ adfStage1: _*)
      .where(expr(coGuardDen))
      .selectExpr(Seq("dst_type", "src_type", "beta", "n_pairs", "m",
        "sxd", "syd", "sxyd", "syyd", "rho", "den") ++ adfStage2: _*)
      .selectExpr(Seq("dst_type", "src_type", "beta", "n_pairs", "m",
        "syd", "sxyd", "rho", "den", "alpha") ++ adfStage3: _*)
      .where(expr(coGuardSse))
      .selectExpr(Seq("dst_type", "src_type", "beta", "n_pairs", "m",
        "rho", "den", "sse") ++ adfStage4: _*)
      .selectExpr("dst_type", "src_type", "n_pairs", "beta", "rho",
        "adf_t AS resid_adf_t",
        "adf_t < CAST(-3.34 AS DOUBLE) AS coint_rejected_05")
      .orderBy("dst_type", "src_type")
  }

  /** The q_ts_hurst body over ANY `(event_type, h, k)` grid — factored
    * like [[adfOf]] for the streaming state read. */
  private[graft] def hurstOf(g: DataFrame): DataFrame = {
    val h0 = g.agg(min("h").as("h0"))
    val base = g.crossJoin(broadcast(h0))
      .withColumn("idx", col("h") - col("h0"))
    val perW = HurstWindows.map { wd =>
      val b = base.withColumn("wid", expr(s"idx div $wd"))
      val part = Window.partitionBy("event_type", "wid")
      val wOrd = part.orderBy("idx")
      val pre = b
        .withColumn("pk", sum("k").over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("t", row_number().over(wOrd))
        .withColumn("tot", sum("k").over(part.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("wz", expr(s"$wd * pk - t * tot"))
      pre.groupBy("event_type", "wid")
        .agg(count(lit(1)).as("n"),
          (greatest(max("wz"), lit(0L)) - least(min("wz"), lit(0L))).as("rw"),
          min("tot").as("tot"),
          sum(expr(s"(k * k) div $MomentSplit")).as("skkhi"),
          sum(expr(s"(k * k) % $MomentSplit")).as("skklo"))
        .where(col("n") === lit(wd))
        .selectExpr("event_type", "wid", "rw",
          s"$wd * (CAST(skkhi AS DOUBLE) * $MomentSplit.0 + CAST(skklo AS DOUBLE))" +
            " - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE) AS s2num")
        .where(col("s2num") > lit(0.0))
        .selectExpr("event_type", "wid", "CAST(rw AS DOUBLE) / sqrt(s2num) AS rs")
        .groupBy("event_type")
        .agg(asLong(count(lit(1))).as("n_windows"),
          sort_array(collect_list(struct(col("wid"), col("rs")))).as("terms"))
        .selectExpr("event_type", s"CAST($wd AS BIGINT) AS win_w", "n_windows",
          "aggregate(terms, CAST(0 AS DOUBLE), (a, x) -> a + x.rs)" +
            " / n_windows AS mean_rs")
    }
    perW.reduce(_.union(_)).orderBy("event_type", "win_w")
  }

  def queries: Seq[(String, Q)] = Seq(

    // Rescaled-range (Hurst) profile (r13) per event_type: mean R/S over
    // complete W-hour windows of the zero-filled cent grid, at W = 64
    // and 256. All integer until the last two ops: the cumulative
    // deviation is scaled through by W (W·Z_t = W·P_t − t·T — exact
    // BIGINT), the range R·W = max(WZ,0) − min(WZ,0) includes the Z₀ = 0
    // anchor, and R/S collapses to RW / sqrt(W·Σk² − T²) (the W's
    // cancel), one division + one sqrt over hi/lo-split exact moments.
    // Zero-variance windows drop (classical R/S undefined). The
    // per-scale mean accumulates through an ORDERED fold over the
    // wid-sorted collected windows (the profile_drift rule — an
    // unordered SUM() of doubles does not replay); windows are
    // TIME-SPAN-bounded (#hours / W), so the collect is bounded. The
    // per-window prefix windows partition by (type, wid) — ≤ W rows
    // each, never corpus-scaled.
    "q_ts_hurst" -> ((s: SparkSession, dir: String) =>
      hurstOf(hourlyCentGrid(s, dir))),

    // Augmented-Dickey–Fuller-style unit-root test (r13, lag order 0 —
    // the plain DF statistic) per event_type over the zero-filled hourly
    // cent grid: t-statistic of (ρ̂ − 1) from the AR(1) regression
    // k_t = α + ρ·k_{t−1} + ε. The stationarity check that belongs next
    // to q_ts_trend (deterministic drift) and q_ts_mann_kendall
    // (monotone trend): a near-unit ρ̂ says shocks persist. Scale: the
    // lag pairs ride ONE per-type window over the TIME-SPAN-BOUNDED grid
    // (the acf/bollinger axis); all sums are map-side exact BIGINTs —
    // Σx², Σxy, Σy² hi/lo-split (the q_agg_skew rule; per-hour cents
    // < 2^31 keeps each product in range) — and the t-statistic is the
    // staged shared-formula chain. unit_root_rejected_05 compares
    // against the −2.86 constant-case 5% critical value.
    "q_ts_adf" -> ((s: SparkSession, dir: String) =>
      adfOf(hourlyCentGrid(s, dir))),

    // Pairwise Granger-causality screen (r14) over the zero-filled
    // hourly cent grid: for each ordered type pair (src → dst), does
    // src's lag improve the AR(1) fit of dst? F = ((SSE_r − SSE_u)/1) /
    // (SSE_u/(m−3)) from exact hi/lo-split BIGINT moments (the adf
    // discipline; one lag keeps the normal equations a 2×2 closed form
    // — no iterative solver, no libm). The type-pair fan is a
    // SPAN-bounded self-join on the hour key (types² × hours rows — the
    // mann_kendall exemption class, identical at every corpus size);
    // degenerate fits (constant or collinear series) drop via shared
    // predicates BEFORE any division. The screen a mix designer reads
    // next to q_ts_crosscorr: crosscorr says "correlated", Granger says
    // "src's past adds information about dst's future".
    "q_ts_granger" -> ((s: SparkSession, dir: String) =>
      grangerOf(hourlyCentGrid(s, dir))),

    // Engle–Granger cointegration screen (r14) per ordered type pair
    // over the hourly cent grid: are two series bound by a long-run
    // equilibrium (residuals of the level regression stationary)? The
    // pairs-trading / shared-trend read that complements q_ts_granger
    // (predictive) and q_ts_adf (per-series). Step 1 is exact-integer
    // OLS; step 2 runs the SAME adfStage formula strings the batch ADF
    // uses, over residual sums accumulated through ORDERED folds of the
    // h-sorted collected residuals (span-bounded collect — the
    // profile_drift rule; an unordered double sum would not replay).
    // −3.34 is the EG 5% critical value (2 vars, constant, large n);
    // the constant-included DF on residuals is the declared convention.
    "q_ts_coint" -> ((s: SparkSession, dir: String) =>
      cointOf(hourlyCentGrid(s, dir))),

    // Time-series gap-fill: dense per-(event_type, hour) activity over the
    // corpus' full hour range — absent buckets surface as explicit zero
    // rows (the resample step before any windowed time-series model). The
    // hour range is a broadcast 1-row relation; the grid explodes to
    // #types × #hours rows regardless of event count.
    "q_ts_gapfill" -> ((s: SparkSession, dir: String) => {
      // r16: rides the memoized (event_type, h, cnt, sv) hourly aggregate
      // (DiagOps.hourlyAggFor) — count + exact-DECIMAL sum are order-free
      // and min/max/distinct over the groups equal those over raw events,
      // so the zero-filled relation is bit-identical to the old inline
      // build at one (amortized zero) events scan instead of three.
      val actual = hourlyAggFor(s, dir)
      val rng = actual.agg(min("h").as("h0"), max("h").as("h1"))
      val grid = actual.select("event_type").distinct()
        .crossJoin(broadcast(rng))
        .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
      grid.join(actual, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h").as("hour_idx"),
          coalesce(col("cnt"), lit(0L)).as("n_events"),
          coalesce(col("sv"), lit(0.0)).as("total_value"))
        .orderBy("event_type", "hour_idx")
    }),

    // Gap INTERPOLATION: the q_ts_gapfill grid with linear interpolation
    // between the bracketing observed hours instead of zero-fill — the
    // resampling step before a time-series feature join. The bracketing
    // lookups are two IGNORE NULLS window passes over the GRID relation,
    // whose row count is time-span × #event-types bounded (NOT corpus-
    // bounded): the per-type window never funnels event rows through one
    // task — the corpus collapsed in the hash agg first. Interpolation
    // arithmetic is an int-ratio double division, one multiply, one add —
    // each IEEE-exact-rounded, composed in the same order in both engines,
    // over exact DECIMAL→DOUBLE hour sums (< 2^53, replayable).
    "q_ts_interpolate" -> ((s: SparkSession, dir: String) => {
      // r16: same memoized hourly-aggregate substrate as q_ts_gapfill —
      // sv keeps its NULL-ness through the left join, so observed/
      // interpolated values are bit-identical to the old inline build.
      val actual = hourlyAggFor(s, dir)
      val rng = actual.agg(min("h").as("h0"), max("h").as("h1"))
      val grid = actual.select("event_type").distinct()
        .crossJoin(broadcast(rng))
        .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
      val wPrev = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      grid.join(actual, Seq("event_type", "h"), "left")
        .withColumn("prev_v", last(col("sv"), ignoreNulls = true).over(wPrev))
        .withColumn("prev_h",
          last(when(col("sv").isNotNull, col("h")), ignoreNulls = true).over(wPrev))
        .withColumn("next_v", first(col("sv"), ignoreNulls = true).over(wNext))
        .withColumn("next_h",
          first(when(col("sv").isNotNull, col("h")), ignoreNulls = true).over(wNext))
        .select(col("event_type"), col("h").as("hour_idx"),
          col("sv").isNotNull.as("observed"),
          when(col("sv").isNotNull, col("sv"))
            .when(col("prev_v").isNull, col("next_v"))
            .when(col("next_v").isNull, col("prev_v"))
            .otherwise(col("prev_v") + (col("next_v") - col("prev_v"))
              * ((col("h") - col("prev_h")).cast("double")
                / (col("next_h") - col("prev_h"))))
            .as("value_interp"))
        .orderBy("event_type", "hour_idx")
    }),

    // Sample autocorrelation (correlogram) of the hourly value series per
    // event type, lags 1..5 — the seasonality/trend diagnostic read before
    // any time-series feature join. Series = the ZERO-FILLED gapfill grid
    // (lags are ill-defined over missing hours), so every window/join runs
    // over the time-span-bounded grid, never event rows. Replay: hourly
    // sums are exact 2-dec values ⇒ k = round(v·100) is an exact integer;
    // lag pairs come from a grid self-join on (type, h−lag) (identical in
    // both engines — no lag() asymmetry); second moments are hi/lo-split
    // (div/% 2^30) DECIMAL(38,0) partial sums so each surfaces < 2^53
    // (the q_agg_skew replay rule — a single sum would exceed 2^64 and
    // diverge in ulps), recombined in ONE shared formula string evaluated
    // by both engines. Bound: per-hour cent sums must stay < 3.03e9
    // (|x·y| < 2^63) — ~$30M/hour at 2 decimals, 10^4× the ×10 fixture.
    "q_ts_acf" -> ((s: SparkSession, dir: String) =>
      acfRelOf(s, dir).orderBy("event_type", "lag_h")),

    // Partial autocorrelation (r12): Durbin–Levinson unrolled to lag 3
    // over the SAME per-lag Pearson r's as q_ts_acf (acfRelOf is the one
    // implementation) — each recursion level a STAGED named column in a
    // fixed IEEE order (the abtest/pValueStages discipline; the shared
    // pacfStageN strings keep the twins drift-free), zero-denominator
    // guards read 0. The AR-order readout next to acf's raw correlogram:
    // pacf cutting off after lag p is the classic AR(p) signature.
    "q_ts_pacf" -> ((s: SparkSession, dir: String) =>
      pacfFromRel(acfRelOf(s, dir))),

    // Ljung–Box portmanteau test (r12c3): the "is anything left in the
    // residuals" white-noise read over the SAME per-lag Pearson
    // correlogram as q_ts_acf/q_ts_pacf (acfRelOf is the one
    // implementation; the oracle composes the shared acfCte — one text,
    // zero drift). Q = N(N+2)·Σ ρ_k²/(N−k) with N−k the pair counts the
    // correlogram already carries; the 5-term sum is an explicit
    // left-associated chain (lbQFormula) and the df=5 verdict compares
    // against the 11.0705 χ² literal. Everything after the memoized
    // grid aggs is a ≤#types pivot.
    "q_ts_ljung_box" -> ((s: SparkSession, dir: String) =>
      ljungFromRel(acfRelOf(s, dir))),

    // Bollinger bands (r12) — the rolling-volatility read next to
    // q_ts_ewma's level smoothing: per (type, hour) the 24-hour rolling
    // mean ± 2σ and a breakout flag, over the SAME gapfilled hourly
    // cent-quantized grid as acf/ewma (zeros for silent hours, so the
    // ROWS-24 frame is a true 24-HOUR window). Exact replay: the frame
    // sums cents and hi/lo-split squared cents as BIGINTs (the
    // q_agg_skew split — each partial < 2^57 even at 2^41-cent hourly
    // sums), then ONE shared formula set evaluates mean/σ/bands in a
    // fixed IEEE order. Scale: the grid is time-span-bounded and the
    // per-type window runs over GRID rows, never events (the ewma/acf
    // axis); only full windows emit (n = 24).
    "q_ts_bollinger" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val g = hourlyCentGrid(s, dir)
      val win = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(-(BollWindow - 1), 0)
      g.withColumn("n", count(lit(1)).over(win))
        .withColumn("s1", sum(col("k")).over(win))
        .withColumn("s2hi", sum(expr(s"(k * k) div $MomentSplit")).over(win))
        .withColumn("s2lo", sum(expr(s"(k * k) % $MomentSplit")).over(win))
        .where(col("n") === BollWindow)
        .selectExpr(Seq("event_type", "h AS hour") ++ bollFormulas: _*)
        .orderBy("event_type", "hour")
    }),

    // Lagged cross-correlation between event-type series (r11) — the
    // lead/lag coupling signal ("do clicks lead purchases?") a metrics
    // pipeline reads off a correlogram. Same hourly cent-quantized grid
    // and hi/lo-split exact moments as q_ts_acf, but pairing DISTINCT
    // series: ccf(a, b, lag) correlates k_a(h) with k_b(h − lag) for lags
    // 0..5 (ordered pairs — ccf is asymmetric). Scale: the grid is
    // time-domain-bounded (#types × #hours, corpus-INDEPENDENT), the
    // pair fan-out is an equi join on the lagged hour over that bounded
    // grid, and the moment agg reduces to ≤ types² × lags rows.
    "q_ts_crosscorr" -> ((s: SparkSession, dir: String) => {
      // r16: the inline grid assembly was op-identical to hourlyCentGrid —
      // ride the memoized leaf (3 events scans → 0 amortized).
      val g = hourlyCentGrid(s, dir)
      val pairs = g
        .withColumn("lag_h", explode(expr(
          s"sequence(CAST(0 AS BIGINT), CAST($AcfMaxLag AS BIGINT))")))
        .join(g.select(col("event_type").as("et_b"), col("h").as("h2"),
          col("k").as("k2")),
          col("h2") === col("h") - col("lag_h"))
        .where(col("event_type") =!= col("et_b"))
        .select(col("event_type").as("et_a"), col("et_b"), col("lag_h"),
          col("k").as("x"), col("k2").as("y"))
      val agg = pairs
        .withColumn("pxx", col("x") * col("x"))
        .withColumn("pyy", col("y") * col("y"))
        .withColumn("pxy", col("x") * col("y"))
        .groupBy("et_a", "et_b", "lag_h")
        .agg(asLong(count(lit(1))).as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(expr(s"pxx div $MomentSplit").cast("decimal(38,0)")).cast("double").as("sxxhi"),
          sum(expr(s"pxx % $MomentSplit").cast("decimal(38,0)")).cast("double").as("sxxlo"),
          sum(expr(s"pyy div $MomentSplit").cast("decimal(38,0)")).cast("double").as("syyhi"),
          sum(expr(s"pyy % $MomentSplit").cast("decimal(38,0)")).cast("double").as("syylo"),
          sum(expr(s"pxy div $MomentSplit").cast("decimal(38,0)")).cast("double").as("sxyhi"),
          sum(expr(s"pxy % $MomentSplit").cast("decimal(38,0)")).cast("double").as("sxylo"))
      agg.selectExpr(Seq("et_a", "et_b", "lag_h", "n") ++ ccfFormula: _*)
        .orderBy("et_a", "et_b", "lag_h")
    }),

    // OHLC downsampling bars: per (event_type, hour) the open/high/low/
    // close/volume summary a time-series feature store serves. PURE
    // AGGREGATION — no window, no row shuffle: open/close are min_by/
    // max_by over a packed (epoch_us, event_id) integer order key, so the
    // whole query is one map-side-combinable hash agg whose shuffle
    // carries #groups partial rows, never events. Replay: the pack is
    // epoch_us · 10^19 + event_id (unique — event_id is the PK; 10^19 >
    // any int64, so the sum is injective), DECIMAL(38,0) on Spark ≡
    // HUGEINT in DuckDB (max ~1.7e34, exact in both); high/low compare
    // raw doubles, volume is the exact-DECIMAL dsum.
    "q_ts_ohlc" -> ((s: SparkSession, dir: String) => {
      table(s, dir, "events")
        .withColumn("h", expr(s"unix_micros(ts) div $HourUs"))
        .withColumn("okey", expr(
          "CAST(unix_micros(ts) AS DECIMAL(38,0)) * 10000000000000000000BD" +
            " + CAST(event_id AS DECIMAL(38,0))"))
        .groupBy("event_type", "h")
        .agg(
          asLong(count(lit(1))).as("n_events"),
          expr("min_by(value, okey)").as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          expr("max_by(value, okey)").as("close"),
          dsum(col("value")).as("volume"))
        .select(col("event_type"), asLong(col("h")).as("hour_idx"),
          col("n_events"), col("open"), col("high"), col("low"),
          col("close"), col("volume"))
        .orderBy("event_type", "hour_idx")
    }),

    // Candlestick pattern scan (r12) over the hourly OHLC bars — the
    // rule-based sequential-pattern read next to q_ts_ohlc's raw bars:
    // three-white-soldiers (three consecutive up bars with strictly
    // rising closes) and bullish engulfing (an up bar whose CENT body
    // spans the prior down bar's). All comparisons run on cent BIGINTs
    // (the raw-double bars would hand the flags to FP equality), bars
    // pair by CONSECUTIVE-BAR lag in hour order (declared: empty hours
    // produce no bar and do not break a pattern), and the okey
    // DECIMAL(38) order key is the ohlc precedent (HUGEINT in the twin,
    // never reaches the output schema). Windows run over the
    // span-bounded bar relation; the report is one ≤#types rollup.
    "q_ts_candles" -> ((s: SparkSession, dir: String) => {
      val bars = table(s, dir, "events")
        .withColumn("h", expr(s"unix_micros(ts) div $HourUs"))
        .withColumn("c", expr("CAST(round(value * 100) AS BIGINT)"))
        .withColumn("okey", expr(
          "CAST(unix_micros(ts) AS DECIMAL(38,0)) * 10000000000000000000BD" +
            " + CAST(event_id AS DECIMAL(38,0))"))
        .groupBy("event_type", "h")
        .agg(expr("min_by(c, okey)").as("oc"),
          expr("max_by(c, okey)").as("cc"))
      val w = Window.partitionBy("event_type").orderBy("h")
      bars
        .withColumn("up", col("cc") > col("oc"))
        .withColumn("up1", lag("up", 1).over(w))
        .withColumn("up2", lag("up", 2).over(w))
        .withColumn("cc1", lag("cc", 1).over(w))
        .withColumn("cc2", lag("cc", 2).over(w))
        .withColumn("oc1", lag("oc", 1).over(w))
        .withColumn("tws", col("up") && col("up1") && col("up2") &&
          col("cc") > col("cc1") && col("cc1") > col("cc2"))
        .withColumn("eng", col("up") && !col("up1") &&
          col("oc") <= col("cc1") && col("cc") >= col("oc1"))
        .groupBy("event_type")
        .agg(asLong(count(lit(1))).as("n_bars"),
          asLong(sum(when(col("up"), 1L).otherwise(0L))).as("n_up"),
          asLong(sum(when(col("tws"), 1L).otherwise(0L))).as("n_three_white"),
          asLong(sum(when(col("eng"), 1L).otherwise(0L))).as("n_engulf"),
          asLong(coalesce(max(when(col("tws"), col("h"))), lit(-1L)))
            .as("last_three_white"),
          asLong(coalesce(max(when(col("eng"), col("h"))), lit(-1L)))
            .as("last_engulf"))
        .orderBy("event_type")
    }),

    // Integer-quantized periodogram (r12c3): DFT spectral power of the
    // demeaned zero-filled hourly cent series per event type at the
    // daily (24 h) and weekly (168 h) candidate periods — the
    // seasonality-STRENGTH readout next to q_ts_seasonal's profile and
    // q_ts_acf's correlogram. cos/sin enter as GENERATED 2^16-scaled
    // BIGINT literals (dftTable — no libm, no strtod), and because the
    // basis is residue-periodic the per-hour sum collapses to residue
    // classes: a = Σ_r cr·d_r with d_r = n·s_r − cnt_r·T exactly the
    // n-scaled demeaned class sum — ALL integer until the three staged
    // readout ops. FP addition order never matters (integer sums are
    // order-free — the anova pivot exists because ITS terms are doubles).
    // Scale: one grid pass fanned ×|periods| into a ≤ #types·Σp residue
    // agg; the stats join is a broadcast ≤#types relation off an RDD
    // leaf (explicit, r7 rule); the literal table broadcasts 192 rows.
    "q_ts_periodogram" -> ((s: SparkSession, dir: String) =>
      periodogramOf(hourlyCentGrid(s, dir))),

    // Cross-spectrum (r15): co/quadrature spectrum + phase alignment
    // between every ordered event-type pair at the probed diurnal/
    // weekly periods — "do logins and purchases share the daily cycle,
    // and who leads?" phase_cos ≈ 1 means in-phase, phase_sin's sign
    // gives the lead/lag direction. The pairing self-join runs over the
    // per-(type, period) AGGREGATE (≤ |types|·|periods| rows at any
    // corpus size), so the quadratic fan never touches corpus rows —
    // the granger/coint pair shape lifted above the aggregation.
    "q_ts_cross_spectrum" -> ((s: SparkSession, dir: String) =>
      crossSpectrumOf(hourlyCentGrid(s, dir))),

    // Welch coherence (r15): magnitude-squared coherence at the diurnal
    // frequency over 72-hour segments — the magnitude-bearing
    // complement to q_ts_cross_spectrum's unit phase vector (single-bin
    // phase vectors are unit by the Brahmagupta–Fibonacci identity;
    // only segment AVERAGING makes "how consistently aligned" a real
    // number in [0,1]). Per-segment components are exact BIGINT DFT
    // sums; the segment folds are seg-ORDERED (the coint ordered-fold
    // rule — FP addition order is part of the replay contract).
    "q_ts_coherence" -> ((s: SparkSession, dir: String) =>
      coherenceOf(hourlyCentGrid(s, dir))),

    // Welch stationarity (r15): per-type Welch-averaged diurnal power
    // plus its across-segment OLS drift — "is the daily cycle's
    // amplitude steady, growing, or fading week over week?" Rides the
    // same per-segment component chain as q_ts_coherence (factored
    // cohComponentsOf); segment-index sums exact BIGINT, power sums
    // seg-ORDERED folds.
    "q_ts_welch" -> ((s: SparkSession, dir: String) =>
      welchOf(hourlyCentGrid(s, dir))),

    // Permutation entropy (r12c3, Bandt–Pompe 2002 shape): ordinal
    // 3-patterns of consecutive hourly cent totals per event type — the
    // model-free complexity readout next to the correlogram (a periodic
    // or trending series concentrates a few patterns; noise spreads all
    // six). Ties rank the earlier hour lower (permPatternFormula — one
    // integer CASE text in both engines, always a valid permutation),
    // counts per pattern pivot into ONE row per type, and the entropy is
    // the exact ilog2 QUANTA form H_q = n·ilog2(n) − Σ c·ilog2(c) (the
    // source_mi machinery; only exact-replay pins are safe for quanta —
    // the r11 order-relation caution). max_share is one int/int IEEE
    // division. Scale: lag windows run over the span-bounded grid (the
    // acf exemption class); everything after is ≤ #types·6 rows.
    "q_ts_perm_entropy" -> ((s: SparkSession, dir: String) => {
      val g = hourlyCentGrid(s, dir)
      val w = Window.partitionBy("event_type").orderBy("h")
      val pid = g
        .withColumn("a", lag("k", 2).over(w))
        .withColumn("b", lag("k", 1).over(w))
        .withColumn("c", col("k"))
        .where(col("a").isNotNull)
        .selectExpr("event_type", permPatternFormula)
      val byPat = pid.groupBy("event_type", "pid")
        .agg(count(lit(1)).as("cnt"))
      def ilog2(c: org.apache.spark.sql.Column) = length(bin(c)) - 1
      val aggs = permPatterns.map { case (nm, id) =>
        asLong(coalesce(max(when(col("pid") === id, col("cnt"))),
          lit(0L))).as(s"c$nm")
      } ++ Seq(
        asLong(sum(col("cnt") * ilog2(col("cnt")))).as("spart"),
        asLong(max("cnt")).as("cmax"))
      byPat.groupBy("event_type")
        .agg(asLong(sum("cnt")).as("n_triples"), aggs: _*)
        .selectExpr("event_type", "n_triples", "c012", "c021", "c102",
          "c120", "c201", "c210",
          "n_triples * (length(bin(n_triples)) - 1) - spart AS hq_perm",
          "CAST(cmax AS DOUBLE) / CAST(n_triples AS DOUBLE) AS max_share")
        .orderBy("event_type")
    }),

    // Truncated EWMA smoothing of the zero-filled hourly value series per
    // event type — the trend/denoise pass before anomaly thresholds or
    // forecast features. Window = the K=8 most recent grid hours with
    // geometric weights 2^(K-1-lag) (α = 1/2), renormalized over the lags
    // actually present near the series start (standard adjusted-EWMA). All
    // joins/windows run over the time-span-bounded grid (the q_ts_acf
    // shape), never event rows. Replay: cent values and power-of-two
    // weights are exact integers; num = Σ w·k ≤ 255 × per-hour cent sum
    // < 2^53 ⇒ the final DOUBLE casts and the shared division formula are
    // IEEE-exact in both engines.
    "q_ts_ewma" -> ((s: SparkSession, dir: String) =>
      // r16: ride the memoized grid leaf; the Pipelines primitive
      // ewmaSmooth builds the same grid from hourlyAgg (ewmaFromGrid is
      // the one body).
      ewmaFromGrid(hourlyCentGrid(s, dir))),

    // Linear trend per event type: OLS slope/intercept/r² of the
    // zero-filled hourly cent series against the hour index — with
    // q_ts_seasonal and q_ts_changepoint this completes the classic
    // trend + seasonal + shift decomposition reads. All sums ride the
    // time-span-bounded grid and stay exact BIGINTs < 2^53 (Σk² hi/lo-
    // split like the acf moments); slope algebra runs in doubles through
    // ONE shared formula set.
    "q_ts_trend" -> ((s: SparkSession, dir: String) => {
      // r16: derive x = h − h0 from the memoized grid (its min h IS h0 —
      // the grid spans h0..h1 per type by construction), dropping the
      // 3-scan inline rebuild. Identical x/k values.
      val g0 = hourlyCentGrid(s, dir)
      val rng = g0.agg(min("h").as("h0"))
      val g = g0.crossJoin(broadcast(rng))
        .select(col("event_type"), (col("h") - col("h0")).as("x"), col("k"))
      g.withColumn("k2", col("k") * col("k"))
        .groupBy("event_type")
        .agg(asLong(count(lit(1))).as("n"),
          sum(col("x")).cast("double").as("sxd"),
          sum(col("k")).cast("double").as("syd"),
          sum(col("x") * col("x")).cast("double").as("sxxd"),
          sum(col("x") * col("k")).cast("double").as("sxyd"),
          sum(expr(s"k2 div $MomentSplit").cast("decimal(38,0)"))
            .cast("double").as("syyhi"),
          sum(expr(s"k2 % $MomentSplit").cast("decimal(38,0)"))
            .cast("double").as("syylo"))
        .selectExpr(Seq("event_type", "n") ++ trendFormulas: _*)
        .orderBy("event_type")
    }),

    // Seasonal-naive forecast backtest per event type (r10) — the
    // completion of the ts family: forecast(h) = value(h − 24) on the
    // zero-filled hourly cent grid (daily period), scored over every
    // hour with a 24-h-old observation. MAE and signed bias accumulate
    // as exact BIGINT cents (one IEEE division each at the end), the lag
    // rides a per-type window over the time-span-bounded grid (the
    // interpolate precedent: partitions hold #hours rows, never corpus
    // rows). The honest baseline every fancier forecaster must beat —
    // and the operator a pipeline runs to decide if it needs one.
    "q_ts_forecast_naive" -> ((s: SparkSession, dir: String) => {
      // r16: the inline grid assembly was op-identical to hourlyCentGrid —
      // ride the memoized leaf.
      val g = hourlyCentGrid(s, dir)
      val w = Window.partitionBy("event_type").orderBy("h")
      g.withColumn("f", lag("k", 24).over(w))
        .where(col("f").isNotNull)
        .groupBy("event_type")
        .agg(asLong(count(lit(1))).as("n_scored"),
          asLong(sum(expr("abs(k - f)"))).as("sae"),
          asLong(sum(expr("k - f"))).as("se"))
        .selectExpr(Seq("event_type", "n_scored") ++ forecastFormulas: _*)
        .orderBy("event_type")
    }),

    // Single changepoint detection per event type: the hour whose split
    // maximizes the two-segment least-squares gain over the zero-filled
    // hourly cent series (the classic mean-shift detector, exact — no
    // iteration). Every window runs over the time-span-bounded grid (the
    // interpolate precedent: per-type partitions hold #hours rows, never
    // corpus rows); the prefix sums, totals, and argmax rank all ride the
    // grid; the gain evaluates through ONE shared formula set and the
    // argmax tie-breaks on the hour, so selection replays exactly.
    "q_ts_changepoint" -> ((s: SparkSession, dir: String) => {
      // r16: the inline grid assembly was op-identical to hourlyCentGrid —
      // ride the memoized leaf.
      val g = hourlyCentGrid(s, dir)
      val wCum = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = g.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("stot"))
      val scored = g
        .withColumn("n1", row_number().over(
          Window.partitionBy("event_type").orderBy("h")).cast("long"))
        .withColumn("s1", sum(col("k")).over(wCum))
        .join(broadcast(tot), "event_type")
        .where(col("n1") < col("n"))
        .withColumn("s1d", col("s1").cast("double"))
        .withColumn("sd", col("stot").cast("double"))
      scored
        .withColumn("gain", expr(cpGainExpr))
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(desc("gain"), asc("h"))))
        .where(col("rk") === 1)
        .selectExpr(Seq("event_type", "CAST(h AS BIGINT) AS split_hour",
          "n1 AS n_left", "gain") ++ changepointMeans: _*)
        .orderBy("event_type")
    }),

    // Robust anomaly report per event type (r10): median / MAD (median
    // absolute deviation) and the |x − med| > 3·MAD outlier census — the
    // robust twin of q_agg_zscore_outlier (one 750× spike corrupts a
    // mean/stddev gate, but moves the median and MAD not at all). Both
    // medians are EXACT lower medians (rank (n+1) div 2) selected by
    // valueAtRanks — never a per-group sort. Each warm selection is one
    // broadcast rank filter over a memoized index: the median SHARES the
    // winsorize index (same (event_type, value) spec + cache key), and
    // the deviations have their own. The deviation pass re-derives cents
    // integers, so the MAD selection is exact too; the 3·MAD gate
    // compares BIGINTs.
    "q_ts_anomaly_mad" -> ((s: SparkSession, dir: String) => {
      val ev = table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (medSel, _) = valueAtRanks(ev, "event_type", "value", nRel =>
        nRel.select(col("event_type"), lit("med").as("which"),
          expr("(n + 1) div 2").as("rank")),
        Some("winsor-events" -> SourceSinkOps.fixtureKey(dir, "events.parquet")))
      val med = medSel.groupBy("event_type")
        .agg(min(when(col("which") === "med", col("value"))).as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("dev_c", expr(
          "abs(CAST(round(value * 100) AS BIGINT)" +
            " - CAST(round(med * 100) AS BIGINT))"))
      val devRel = dev.select(col("event_type"),
        (col("dev_c") / lit(100.0)).as("value"))
      val (madSel, _) = valueAtRanks(devRel, "event_type", "value", nRel =>
        nRel.select(col("event_type"), lit("mad").as("which"),
          expr("(n + 1) div 2").as("rank")),
        // the deviation relation is a pure function of the fixture (the
        // median it subtracts is itself memoized), so its index memoizes
        // too — without this every bench rep rebuilt it
        Some("mad-dev" -> SourceSinkOps.fixtureKey(dir, "events.parquet")))
      val mad = madSel.groupBy("event_type")
        .agg(min(when(col("which") === "mad", col("value"))).as("mad"))
        .withColumn("mad_c", expr("CAST(round(mad * 100) AS BIGINT)"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(asLong(count(lit(1))).as("n"),
          min("med").as("med"), min("mad").as("mad"),
          asLong(sum(when(col("dev_c") > lit(3L) * col("mad_c"), 1L)
            .otherwise(0L))).as("n_outliers"))
        .withColumn("outlier_rate",
          col("n_outliers").cast("double") / col("n"))
        .orderBy("event_type")
    }),

    // LTTB-style visualization downsampling (r11b) — per (type, hour
    // bucket) keep the ONE point forming the largest triangle with the
    // neighbor buckets' mean points (Steinarsson's
    // largest-triangle-three-buckets, in the parallel bucket-mean variant:
    // the sequential selected-point recurrence would serialize the scan;
    // the mean-anchored form is embarrassingly parallel and is the
    // standard approximation). Exact replay: areas compare as INTEGERS —
    // the 2·area expression with mean anchors multiplies through by
    // np²·nn (constant within a bucket, so the argmax is unchanged):
    // |(sxp·nn − sxn·np)(y·np − syp) − (sxp − xr·np)(syn·np − syp·nn)|,
    // every factor an exact BIGINT (x rebased to the corpus min so
    // Σxr < 2^63 up to ~10^6 rows/bucket at month span — beyond that
    // rebase per bucket), products in DECIMAL(38,0) (HUGEINT in the twin,
    // the ohlc okey precedent) — values ≤ ~10^35 stay exact in both.
    // Scale: one scan + a (type, bucket) hash agg; neighbor attachment
    // joins the TIME-BOUNDED agg relation on b±1 (empty-hour gaps drop
    // their neighbors in both engines identically — interior buckets
    // only, declared); the per-bucket argmax is max_by (map-side
    // combinable), never a window over raw events.
    "q_ts_downsample" -> ((s: SparkSession, dir: String) => {
      val D = "decimal(38,0)"
      val pts = table(s, dir, "events").select(col("event_type").as("et"),
        unix_micros(col("ts")).as("x"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      val x0 = pts.agg(min("x").as("x0"))
      val b = pts.crossJoin(broadcast(x0))
        .select(col("et"), col("x"), col("y"),
          (col("x") - col("x0")).as("xr"),
          expr(s"x div $HourUs").as("b"))
      val agg = b.groupBy("et", "b").agg(asLong(count(lit(1))).as("n"),
        asLong(sum("xr")).as("sx"), asLong(sum("y")).as("sy"))
      val prev = agg.select(col("et").as("et_p"), (col("b") + 1).as("b_p"),
        col("n").as("np"), col("sx").as("sxp"), col("sy").as("syp"))
      val next = agg.select(col("et").as("et_n"), (col("b") - 1).as("b_n"),
        col("n").as("nn"), col("sx").as("sxn"), col("sy").as("syn"))
      val nbr = agg
        .join(prev, col("et") === col("et_p") && col("b") === col("b_p"))
        .join(next, col("et") === col("et_n") && col("b") === col("b_n"))
        .select("et", "b", "n", "np", "sxp", "syp", "nn", "sxn", "syn")
      val sc = b.join(nbr, Seq("et", "b"))
        .withColumn("score", abs(
          (col("sxp").cast(D) * col("nn") - col("sxn").cast(D) * col("np"))
            * (col("y").cast(D) * col("np") - col("syp"))
          - (col("sxp").cast(D) - col("xr").cast(D) * col("np"))
            * (col("syn").cast(D) * col("np") - col("syp").cast(D) * col("nn"))))
      sc.groupBy("et", "b")
        .agg(max_by(struct(col("x"), col("y")),
          struct(col("score"), (-col("x")).as("nx"), (-col("y")).as("ny"))).as("pt"),
          asLong(min("n")).as("n"))
        .select(col("et").as("event_type"), col("b").as("bucket"),
          col("pt.x").as("ts_us"),
          (col("pt.y").cast("double") / 100).as("value"),
          col("n"))
        .orderBy("event_type", "bucket")
    }),

    // Hour-of-day seasonal profile per event type — the seasonality
    // DECOMPOSITION read next to q_ts_acf's correlogram: per (type,
    // hour-of-day) the event share, mean value, and deviation from the
    // type's overall mean. Scale: ONE map-side-combinable hash agg
    // collapses the corpus to ≤ #types × 24 rows; the per-type rollup
    // derives FROM that relation (sums of partials — no second scan) and
    // broadcasts back (event_type is an application-level enum, a
    // domain-bounded count side like simhash's 2^16, never O(#rows)).
    "q_ts_seasonal" -> ((s: SparkSession, dir: String) =>
      seasonalProfile(table(s, dir, "events"))),

    // One-way ANOVA by hour-of-day (r12): the "is the hourly seasonality
    // REAL" significance readout next to q_ts_seasonal's descriptive
    // profile — between-group sum of squares over the 24 hour cells vs
    // within, eta² and the F statistic. Replay discipline: per-cell and
    // per-type sums are exact BIGINTs (Σk² hi/lo-split — the skew/
    // bollinger rule; raw Σk² overflows 2^63 at ×10), SSB's 24-term
    // float sum is pinned to hod-ascending order by an ordered
    // cumulative window (the mix_alpha fixed-order rule), and every
    // later op is a staged IEEE chain over named columns. The cell
    // relation is ≤ 24·#types rows — the windows run over bounded
    // input, never event rows.
    "q_ts_anova" -> ((s: SparkSession, dir: String) => {
      val ev = table(s, dir, "events")
        .select(col("event_type"),
          expr(s"(unix_micros(ts) div $HourUs) % 24").as("hod"),
          expr("CAST(round(value * 100) AS BIGINT)").as("k"))
      val cell = ev.groupBy("event_type", "hod")
        .agg(count(lit(1)).as("nh"), sum(col("k")).as("sh"))
      val tot = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
          sum(expr(s"(k * k) div $MomentSplit")).as("s2hi"),
          sum(expr(s"(k * k) % $MomentSplit")).as("s2lo"))
      val withTerm = cell.withColumn("term",
        expr("(CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE)) / nh"))
      val pivotCols = (0 until 24).map(h =>
        max(when(col("hod") === h, col("term"))).as(s"t$h")) :+
        asLong(count(lit(1))).as("k_groups")
      val terms = withTerm.groupBy(col("event_type").as("et"))
        .agg(pivotCols.head, pivotCols.tail: _*)
        .withColumn("sumterm", expr(anovaSumTerm))
        .select(col("et"), col("sumterm"), col("k_groups"))
      tot.join(broadcast(terms), col("event_type") === col("et"))
        .selectExpr("event_type", "CAST(n AS BIGINT) AS n", "k_groups",
          "sumterm", "CAST(sk AS DOUBLE) AS skd",
          s"(CAST(s2hi AS DOUBLE) * $MomentSplit.0 + CAST(s2lo AS DOUBLE)) AS s2d",
          "CAST(n AS DOUBLE) AS nd")
        .selectExpr("event_type", "n", "k_groups",
          "s2d - skd * skd / nd AS sst",
          "sumterm - skd * skd / nd AS ssb")
        .selectExpr("event_type", "n", "k_groups", "sst", "ssb",
          "sst - ssb AS ssw")
        .selectExpr("event_type", "n", "sst", "ssb", "ssw",
          "ssb / sst AS eta_sq",
          "(ssb / (k_groups - 1)) / (ssw / (n - k_groups)) AS f_stat")
        .orderBy("event_type")
    }),

    // Theil-Sen robust trend slope (r12) per event type: the LOWER MEDIAN
    // (the r10 (n+1) div 2 idiom — exact, no midpoint average) of all
    // pairwise slopes (k_j − k_i)/(h_j − h_i) over the zero-filled hourly
    // cent grid — the outlier-insensitive complement to q_ts_trend's OLS
    // slope and the natural companion to the Mann-Kendall verdict. Each
    // slope is ONE IEEE division of exact integers (replayable); the
    // median is selected BY VALUE at a fixed rank, so tie order among
    // equal slopes cannot matter. Selection runs through
    // [[doubleValueAtRanks]] (radix order-statistic over the IEEE bit
    // key): the ~1.2M slope pairs collapse map-side into a distinct-slope
    // histogram keyed by (type, bit key) — a HIGH-cardinality shuffle —
    // and every window after that is a ≤65536-row digit histogram per
    // type, so no 5-partition row-level sort anywhere (the r12 shape
    // ranked all pairs in 5 window tasks — the low-cardinality-window
    // trap the repo bans; the time-span bound made it survivable, not
    // right). The oracle keeps the naive rank window (the
    // q_agg_weighted_median rule: single-node DuckDB may run the naive
    // cumulative — the engine owes the scale discipline, both engines
    // only have to agree on the selected VALUE).
    "q_ts_theil_sen" -> ((s: SparkSession, dir: String) => {
      val g = hourlyCentGrid(s, dir) // memoized leaf (r15) — per-call re-checkpoint dropped
      val pairs = g.as("g1").join(g.as("g2"),
          col("g1.event_type") === col("g2.event_type") &&
            col("g1.h") < col("g2.h"))
        // try_divide, not /: the histogram build consumes slope TWICE
        // (order key + min), and codegen's subexpression elimination
        // hoists the shared division into the join's consume path BEFORE
        // the h1 < h2 residual check — ANSI then throws on the h-equal
        // candidate rows the condition is about to drop. try_divide
        // tolerates those phantom rows (they never reach the output);
        // surviving pairs have h2 − h1 ≥ 1, so the quotient is the same
        // IEEE division the oracle runs.
        .select(col("g1.event_type").as("event_type"),
          expr("try_divide(CAST(g2.k - g1.k AS DOUBLE), CAST(g2.h - g1.h AS DOUBLE))")
            .as("slope"))
      val (sel, _) = doubleValueAtRanks(pairs, "event_type", "slope",
        nRel => nRel.select(col("event_type"), lit("med").as("which"),
          expr("(n + 1) div 2").as("rank"), col("n")),
        Some("theil-slopes" -> SourceSinkOps.fixtureKey(dir, "events.parquet")))
      sel.select(col("event_type"), asLong(col("n")).as("n_pairs"),
          (col("value") / lit(100.0)).as("slope_per_hour"))
        .orderBy("event_type")
    }),

    // Mann-Kendall trend test (r12) per event type over the zero-filled
    // hourly cent grid: S = Σ sign(k_j − k_i) over hour pairs i<j — the
    // standard non-parametric monotone-trend test, EXACT in integers
    // (the cent grid is the replay substrate; ties contribute 0 and the
    // tie-corrected variance numerator n(n−1)(2n+5) − Σt(t−1)(2t+5)
    // stays BIGINT for spans under ~2^21 hours ≈ 239 years). The pair
    // self-join carries event_type as its equi key and the per-key
    // density is TIME-SPAN-bounded (grid rows are identical at ×10 —
    // the q_ts_bollinger axis), so the quadratic never grows with data
    // volume. z/verdict are the staged shared formulas; the two 5-row
    // aggregates meet under an explicit broadcast.
    "q_ts_mann_kendall" -> ((s: SparkSession, dir: String) => {
      val g = hourlyCentGrid(s, dir) // memoized leaf (r15) — per-call re-checkpoint dropped
      val pr = g.as("g1").join(g.as("g2"),
          col("g1.event_type") === col("g2.event_type") &&
            col("g1.h") < col("g2.h"))
        .groupBy(col("g1.event_type").as("event_type"))
        .agg(sum(when(col("g2.k") > col("g1.k"), 1L)
          .when(col("g2.k") < col("g1.k"), -1L)
          .otherwise(0L)).as("s"))
      val tv = g.groupBy("event_type", "k").agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(col("t")).as("n"),
          sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_adj"))
      pr.join(broadcast(tv), "event_type")
        .withColumn("vnum", expr("n * (n - 1) * (2 * n + 5) - tie_adj"))
        .selectExpr("event_type", "CAST(s AS BIGINT) AS s_stat",
          "CAST(vnum AS BIGINT) AS var_num", "s", "vnum")
        .selectExpr("event_type", "s_stat", "var_num", mkZFormula)
        .selectExpr("event_type", "s_stat", "var_num", "z", mkTrendFormula)
        .orderBy("event_type")
    }),

    // Wald–Wolfowitz runs test (r12) per event type over the zero-filled
    // hourly cent grid: dichotomize each hour's exact cent total against
    // the per-type MEDIAN hourly total (hours AT the median drop — the
    // classical treatment; the median is selected by rank (n+1) div 2
    // under the total order (k, h), so both engines pick the identical
    // element), count maximal same-sign runs in hour order via one lag,
    // and read the normal approximation z = (R − E)/√Var through the
    // staged shared formulas. Scale: the grid is TIME-SPAN-bounded
    // (identical rows at ×10 — the bollinger/mann_kendall axis), so the
    // per-type windows never see corpus-scaled input; everything before
    // them is one map-combinable hash agg off the scan.
    "q_ts_runs_test" -> ((s: SparkSession, dir: String) => {
      // checkpointed like mann_kendall: med derives FROM g and joins back
      // against it (the ambiguous-self-join surface), and the leaf feeds
      // two consumers; RDD-leaf stats are unknown, so med's broadcast
      // below is explicit (r7 rule)
      val g = hourlyCentGrid(s, dir) // memoized leaf (r15) — per-call re-checkpoint dropped
      val med = g
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("k", "h")))
        .withColumn("ng", count(lit(1)).over(Window.partitionBy("event_type")))
        .where(col("rn") === expr("(ng + 1) div 2"))
        .select(col("event_type"), col("k").as("med_k"))
      val signed = g.join(broadcast(med), "event_type")
        .where(col("k") =!= col("med_k"))
        .withColumn("sgn", when(col("k") > col("med_k"), 1).otherwise(-1))
      signed
        .withColumn("prev", lag("sgn", 1).over(
          Window.partitionBy("event_type").orderBy("h")))
        .groupBy("event_type")
        .agg(asLong(count(lit(1))).as("n"),
          asLong(sum(when(col("sgn") === 1, 1L).otherwise(0L))).as("n_above"),
          asLong(sum(when(col("sgn") === -1, 1L).otherwise(0L))).as("n_below"),
          asLong(sum(when(col("prev").isNull || col("prev") =!= col("sgn"), 1L)
            .otherwise(0L))).as("n_runs"))
        .selectExpr("event_type", "n", "n_above", "n_below", "n_runs",
          runsEFormula)
        .selectExpr("event_type", "n", "n_above", "n_below", "n_runs",
          "e_runs", runsVFormula)
        .selectExpr("event_type", "n", "n_above", "n_below", "n_runs",
          "e_runs", "var_runs", runsZFormula)
        .selectExpr("event_type", "n", "n_above", "n_below", "n_runs",
          "e_runs", "var_runs", "z", runsVerdictFormula)
        .orderBy("event_type")
    }),

    // One-sided CUSUM change detection (r12) per event type over the
    // zero-filled hourly cent grid: the classical sequential detector
    // S_t = max(0, S_{t−1} + (k_t − target)) — a clamped RECURRENCE that
    // does not window-decompose directly, computed EXACTLY via the
    // prefix-sum identity S_t = C_t − min_{j≤t} C_j (two integer windows:
    // running sum + running min — the recursion never materializes).
    // Target is the per-type MEDIAN hourly total and the alarm threshold
    // is 3×MAD, both rank-selected under total orders on the grid, so
    // the whole detector is integer-exact end to end; cents surface as
    // value units only in the report. Every window runs over the
    // TIME-SPAN-bounded grid (the mann_kendall exemption class).
    "q_ts_cusum" -> ((s: SparkSession, dir: String) => {
      val g = hourlyCentGrid(s, dir) // memoized leaf (r15) — per-call re-checkpoint dropped
      def rankPick(df: DataFrame, valCol: String, out: String): DataFrame =
        df.withColumn("rn", row_number().over(
            Window.partitionBy("event_type").orderBy(col(valCol), col("h"))))
          .withColumn("ng", count(lit(1)).over(Window.partitionBy("event_type")))
          .where(col("rn") === expr("(ng + 1) div 2"))
          .select(col("event_type"), col(valCol).as(out))
      val med = rankPick(g, "k", "med_k")
      val dev = g.join(broadcast(med), "event_type")
        .withColumn("dev", col("k") - col("med_k"))
      val mad = rankPick(dev.withColumn("adev", abs(col("dev")))
        .select(col("event_type"), col("adev").as("k"), col("h")), "k", "mad_k")
      val wOrd = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // allowance (slack) = MAD: the standard CUSUM drift guard — without
      // it Σ(k − median) accumulates whenever mean ≠ median and the
      // detector alarms ~95% of hours (measured on the first cut)
      val cus = dev.join(broadcast(mad), "event_type")
        .withColumn("y", col("dev") - col("mad_k"))
        .withColumn("c", sum(col("y")).over(wOrd))
        // the running min must include the EMPTY prefix (C₀ = 0) or the
        // identity S_t = C_t − min_{j≤t} C_j under-reads whenever every
        // prefix sum stays positive — hence least(0, min)
        .withColumn("rmin", least(lit(0L), min(col("c")).over(wOrd)))
        .withColumn("s", col("c") - col("rmin"))
      cus
        .groupBy("event_type")
        .agg(asLong(count(lit(1))).as("n_hours"),
          max(struct(col("s"), (-col("h")).as("nh"))).as("pk"),
          asLong(sum(when(col("s") > lit(3L) * col("mad_k"), 1L)
            .otherwise(0L))).as("n_alarms"),
          asLong(min("med_k")).as("med_c"),
          asLong(min("mad_k")).as("mad_c"))
        .selectExpr("event_type", "n_hours",
          "CAST(pk.s AS DOUBLE) / 100 AS max_cusum",
          "-pk.nh AS peak_hour", "n_alarms",
          "CAST(med_c AS DOUBLE) / 100 AS target",
          "CAST(3 * mad_c AS DOUBLE) / 100 AS threshold")
        .orderBy("event_type")
    })
  )

  /** One per-width R/S CTE chain for the hurst oracle — generated from
    * the same constants as the engine branch (prefix keeps the two
    * widths' names disjoint; the r12c CTE-collision rule). */
  private def hurstCtes(wd: Long, p: String): String =
    s"""${p}b AS (
       |  SELECT event_type, k, h, (h - hm.h0) // $wd AS wid
       |  FROM g CROSS JOIN hm),
       |${p}pre AS (
       |  SELECT event_type, wid, k,
       |         sum(k) OVER (PARTITION BY event_type, wid ORDER BY h
       |                      ROWS UNBOUNDED PRECEDING) AS pk,
       |         row_number() OVER (PARTITION BY event_type, wid ORDER BY h) AS t,
       |         sum(k) OVER (PARTITION BY event_type, wid) AS tot
       |  FROM ${p}b),
       |${p}wz AS (
       |  SELECT event_type, wid, k, tot, $wd * pk - t * tot AS wz
       |  FROM ${p}pre),
       |${p}ag AS (
       |  SELECT event_type, wid, CAST(count(*) AS BIGINT) AS n,
       |         greatest(max(wz), 0) - least(min(wz), 0) AS rw,
       |         min(tot) AS tot,
       |         CAST(sum((k * k) // $MomentSplit) AS BIGINT) AS skkhi,
       |         CAST(sum((k * k) % $MomentSplit) AS BIGINT) AS skklo
       |  FROM ${p}wz GROUP BY event_type, wid),
       |${p}s2 AS (
       |  SELECT event_type, wid, rw,
       |         $wd * (CAST(skkhi AS DOUBLE) * $MomentSplit.0 + CAST(skklo AS DOUBLE)) - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE) AS s2num
       |  FROM ${p}ag WHERE n = $wd),
       |${p}rs AS (
       |  SELECT event_type, wid, CAST(rw AS DOUBLE) / sqrt(s2num) AS rs
       |  FROM ${p}s2 WHERE s2num > 0.0),
       |${p}out AS (
       |  SELECT event_type, CAST($wd AS BIGINT) AS win_w,
       |         CAST(count(*) AS BIGINT) AS n_windows,
       |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list_transform(list(struct_pack(wid := wid, rs := rs)
       |                               ORDER BY wid), x -> x.rs)),
       |           (a, b) -> a + b) / count(*) AS mean_rs
       |  FROM ${p}rs GROUP BY event_type)""".stripMargin

  def oracle: Seq[(String, String)] = Seq(

    "q_ts_hurst" ->
      s"""WITH $centGridCte,
         |hm AS (SELECT min(h) AS h0 FROM g),
         |${hurstCtes(HurstWindows(0), "ha")},
         |${hurstCtes(HurstWindows(1), "hb")}
         |SELECT * FROM haout
         |UNION ALL SELECT * FROM hbout
         |ORDER BY event_type, win_w""".stripMargin,

    "q_ts_adf" ->
      s"""WITH $centGridCte,
         |lagd AS (
         |  SELECT event_type, k,
         |         lag(k) OVER (PARTITION BY event_type ORDER BY h) AS xk
         |  FROM g),
         |ag AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
         |         CAST(sum(xk) AS BIGINT) AS sx,
         |         CAST(sum(k) AS BIGINT) AS sy,
         |         CAST(sum((xk * xk) // $MomentSplit) AS BIGINT) AS sxxhi,
         |         CAST(sum((xk * xk) % $MomentSplit) AS BIGINT) AS sxxlo,
         |         CAST(sum((xk * k) // $MomentSplit) AS BIGINT) AS sxyhi,
         |         CAST(sum((xk * k) % $MomentSplit) AS BIGINT) AS sxylo,
         |         CAST(sum((k * k) // $MomentSplit) AS BIGINT) AS syyhi,
         |         CAST(sum((k * k) % $MomentSplit) AS BIGINT) AS syylo
         |  FROM lagd WHERE xk IS NOT NULL GROUP BY event_type),
         |d AS (
         |  SELECT event_type, CAST(m AS BIGINT) AS n_pairs, m,
         |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         |         CAST(sxxhi AS DOUBLE) * $MomentSplit.0 + CAST(sxxlo AS DOUBLE) AS sxxd,
         |         CAST(sxyhi AS DOUBLE) * $MomentSplit.0 + CAST(sxylo AS DOUBLE) AS sxyd,
         |         CAST(syyhi AS DOUBLE) * $MomentSplit.0 + CAST(syylo AS DOUBLE) AS syyd
         |  FROM ag),
         |s1 AS (SELECT event_type, n_pairs, m, sxd, syd, sxyd, syyd,
         |       ${adfStage1.mkString(",\n       ")} FROM d),
         |s2 AS (SELECT event_type, n_pairs, m, sxd, syd, sxyd, syyd, rho, den,
         |       ${adfStage2.mkString(",\n       ")} FROM s1),
         |s3 AS (SELECT event_type, n_pairs, m, syd, sxyd, rho, den, alpha,
         |       ${adfStage3.mkString(",\n       ")} FROM s2),
         |s4 AS (SELECT event_type, n_pairs, m, rho, den, sse,
         |       ${adfStage4.mkString(",\n       ")} FROM s3)
         |SELECT event_type, n_pairs, rho, adf_t,
         |       adf_t < CAST(-2.86 AS DOUBLE) AS unit_root_rejected_05
         |FROM s4 ORDER BY event_type""".stripMargin,

    // Cointegration replay: same grid, same level-pair relation
    // (MATERIALIZED — OLS and residual stages both read it), same hi/lo
    // recombination, same residual string, the SAME adfStage chain over
    // the ordered-fold residual sums, and the same guard predicates.
    "q_ts_coint" -> {
      def split2(e: String, n: String) =
        s"""CAST(sum(($e) // $MomentSplit) AS BIGINT) AS ${n}hi,
           |         CAST(sum(($e) % $MomentSplit) AS BIGINT) AS ${n}lo""".stripMargin
      def recomb(n: String) =
        s"CAST(${n}hi AS DOUBLE) * $MomentSplit.0 + CAST(${n}lo AS DOUBLE) AS ${n}d"
      def fold(fieldExpr: String, name: String) =
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(terms, t -> $fieldExpr)), (acc, v) -> acc + v) AS $name"
      s"""WITH $centGridCte,
         |rel AS MATERIALIZED (
         |  SELECT y.event_type AS dst_type, x.event_type AS src_type,
         |         y.h, y.k AS y, x.k AS x
         |  FROM g y JOIN g x USING (h)
         |  WHERE y.event_type <> x.event_type),
         |mo AS (
         |  SELECT dst_type, src_type, CAST(count(*) AS BIGINT) AS m,
         |         CAST(sum(x) AS BIGINT) AS sx,
         |         CAST(sum(y) AS BIGINT) AS sy,
         |         ${split2("x * x", "sxx")},
         |         ${split2("x * y", "sxy")}
         |  FROM rel GROUP BY dst_type, src_type),
         |d0 AS (
         |  SELECT dst_type, src_type, m,
         |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         |         ${recomb("sxx")}, ${recomb("sxy")}
         |  FROM mo),
         |d0f AS (SELECT * FROM d0 WHERE $coGuardLevel),
         |ob AS (SELECT dst_type, src_type, m, sxd, syd,
         |       ${coStageB.mkString(",\n       ")} FROM d0f),
         |oa AS (SELECT dst_type, src_type, beta,
         |       ${coStageA.mkString(",\n       ")} FROM ob),
         |res AS (
         |  SELECT rel.dst_type, rel.src_type, rel.h, oa.beta,
         |         $coResidual
         |  FROM rel JOIN oa USING (dst_type, src_type)),
         |lgr AS (
         |  SELECT dst_type, src_type, h, beta, e,
         |         lag(e) OVER (PARTITION BY dst_type, src_type
         |                      ORDER BY h) AS pe
         |  FROM res),
         |tm AS (
         |  SELECT dst_type, src_type, min(beta) AS beta,
         |         CAST(count(*) AS BIGINT) AS m,
         |         list(struct_pack(h := h, e := e, pe := pe)
         |              ORDER BY h) AS terms
         |  FROM lgr WHERE pe IS NOT NULL GROUP BY dst_type, src_type),
         |sm AS (
         |  SELECT dst_type, src_type, beta, m AS n_pairs, m,
         |         ${fold("t.pe", "sxd")},
         |         ${fold("t.e", "syd")},
         |         ${fold("t.pe * t.pe", "sxxd")},
         |         ${fold("t.pe * t.e", "sxyd")},
         |         ${fold("t.e * t.e", "syyd")}
         |  FROM tm),
         |c1 AS (SELECT dst_type, src_type, beta, n_pairs, m, sxd, syd, sxyd, syyd,
         |       ${adfStage1.mkString(",\n       ")} FROM sm),
         |c1f AS (SELECT * FROM c1 WHERE $coGuardDen),
         |c2 AS (SELECT dst_type, src_type, beta, n_pairs, m, sxd, syd, sxyd, syyd, rho, den,
         |       ${adfStage2.mkString(",\n       ")} FROM c1f),
         |c3 AS (SELECT dst_type, src_type, beta, n_pairs, m, syd, sxyd, rho, den, alpha,
         |       ${adfStage3.mkString(",\n       ")} FROM c2),
         |c3f AS (SELECT * FROM c3 WHERE $coGuardSse),
         |c4 AS (SELECT dst_type, src_type, beta, n_pairs, m, rho, den, sse,
         |       ${adfStage4.mkString(",\n       ")} FROM c3f)
         |SELECT dst_type, src_type, n_pairs, beta, rho,
         |       adf_t AS resid_adf_t,
         |       adf_t < CAST(-3.34 AS DOUBLE) AS coint_rejected_05
         |FROM c4 ORDER BY dst_type, src_type""".stripMargin
    },

    // Granger replay: same grid, same lag relation (MATERIALIZED — the
    // pair fan reads it twice), same hi/lo split recombination, and the
    // IDENTICAL staged formula strings + guard predicates.
    "q_ts_granger" -> {
      def split2(e: String, n: String) =
        s"""CAST(sum(($e) // $MomentSplit) AS BIGINT) AS ${n}hi,
           |         CAST(sum(($e) % $MomentSplit) AS BIGINT) AS ${n}lo""".stripMargin
      def recomb(n: String) =
        s"CAST(${n}hi AS DOUBLE) * $MomentSplit.0 + CAST(${n}lo AS DOUBLE) AS ${n}d"
      s"""WITH $centGridCte,
         |lagd AS MATERIALIZED (
         |  SELECT event_type, h, k,
         |         lag(k) OVER (PARTITION BY event_type ORDER BY h) AS xk
         |  FROM g),
         |p AS (
         |  SELECT y.event_type AS dst_type, x.event_type AS src_type,
         |         y.k AS y, y.xk AS x1, x.xk AS x2
         |  FROM lagd y JOIN lagd x USING (h)
         |  WHERE y.xk IS NOT NULL AND x.xk IS NOT NULL
         |    AND y.event_type <> x.event_type),
         |ag AS (
         |  SELECT dst_type, src_type, CAST(count(*) AS BIGINT) AS m,
         |         CAST(sum(x1) AS BIGINT) AS sx1,
         |         CAST(sum(x2) AS BIGINT) AS sx2,
         |         CAST(sum(y) AS BIGINT) AS sy,
         |         ${split2("x1 * x1", "sx1x1")},
         |         ${split2("x2 * x2", "sx2x2")},
         |         ${split2("x1 * x2", "sx1x2")},
         |         ${split2("x1 * y", "sx1y")},
         |         ${split2("x2 * y", "sx2y")},
         |         ${split2("y * y", "syy")}
         |  FROM p GROUP BY dst_type, src_type),
         |d AS (
         |  SELECT dst_type, src_type, CAST(m AS BIGINT) AS n_pairs, m,
         |         CAST(sx1 AS DOUBLE) AS sx1d, CAST(sx2 AS DOUBLE) AS sx2d,
         |         CAST(sy AS DOUBLE) AS syd,
         |         ${Seq("sx1x1", "sx2x2", "sx1x2", "sx1y", "sx2y", "syy")
                      .map(recomb).mkString(",\n         ")}
         |  FROM ag),
         |s1 AS (SELECT dst_type, src_type, n_pairs, m,
         |       ${grStage1.mkString(",\n       ")} FROM d),
         |s2 AS (SELECT dst_type, src_type, n_pairs, m, s11, s22, s12, s1y, s2y, syy,
         |       ${grStage2.mkString(",\n       ")} FROM s1),
         |s2f AS (SELECT * FROM s2 WHERE $grGuardDet),
         |s3 AS (SELECT dst_type, src_type, n_pairs, m, s11, s1y, s2y, syy,
         |       ${grStage3.mkString(",\n       ")} FROM s2f),
         |s4 AS (SELECT dst_type, src_type, n_pairs, m, b2,
         |       ${grStage4.mkString(",\n       ")} FROM s3),
         |s4f AS (SELECT * FROM s4 WHERE $grGuardSse),
         |s5 AS (SELECT dst_type, src_type, n_pairs, b2, sse_u, sse_r,
         |       ${grStage5.mkString(",\n       ")} FROM s4f)
         |SELECT dst_type, src_type, n_pairs, b2 AS cross_coef, f_stat,
         |       f_stat > CAST(3.84 AS DOUBLE) AS granger_rejected_05
         |FROM s5 ORDER BY dst_type, src_type""".stripMargin
    },

    "q_ts_gapfill" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS h, value FROM events),
         |r AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
         |g AS (
         |  SELECT t.event_type, unnest(generate_series(r.h0, r.h1)) AS h
         |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN r),
         |a AS (
         |  SELECT event_type, h, count(*) AS cnt,
         |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
         |  FROM e GROUP BY event_type, h)
         |SELECT g.event_type, g.h AS hour_idx,
         |       COALESCE(a.cnt, 0) AS n_events,
         |       COALESCE(a.sv, 0.0) AS total_value
         |FROM g LEFT JOIN a USING (event_type, h)
         |ORDER BY g.event_type, hour_idx""".stripMargin,

    "q_ts_interpolate" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS h, value FROM events),
         |r AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
         |g AS (
         |  SELECT t.event_type, unnest(generate_series(r.h0, r.h1)) AS h
         |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN r),
         |a AS (
         |  SELECT event_type, h,
         |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
         |  FROM e GROUP BY event_type, h),
         |j AS (
         |  SELECT g.event_type, g.h, a.sv
         |  FROM g LEFT JOIN a USING (event_type, h)),
         |w AS (
         |  SELECT event_type, h, sv,
         |         last_value(sv IGNORE NULLS) OVER
         |           (PARTITION BY event_type ORDER BY h
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         |         last_value(CASE WHEN sv IS NOT NULL THEN h END IGNORE NULLS) OVER
         |           (PARTITION BY event_type ORDER BY h
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
         |         first_value(sv IGNORE NULLS) OVER
         |           (PARTITION BY event_type ORDER BY h
         |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         |         first_value(CASE WHEN sv IS NOT NULL THEN h END IGNORE NULLS) OVER
         |           (PARTITION BY event_type ORDER BY h
         |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
         |  FROM j)
         |SELECT event_type, h AS hour_idx, sv IS NOT NULL AS observed,
         |       CASE WHEN sv IS NOT NULL THEN sv
         |            WHEN prev_v IS NULL THEN next_v
         |            WHEN next_v IS NULL THEN prev_v
         |            ELSE prev_v + (next_v - prev_v)
         |                 * (CAST(h - prev_h AS DOUBLE) / (next_h - prev_h))
         |       END AS value_interp
         |FROM w ORDER BY event_type, hour_idx""".stripMargin,

    "q_ts_acf" ->
      s"""WITH $acfCte
         |SELECT event_type, lag_h, n, acf
         |FROM acfrel ORDER BY event_type, lag_h""".stripMargin,

    "q_ts_pacf" ->
      s"""WITH $acfCte,
         |piv AS (
         |  SELECT event_type,
         |         max(CASE WHEN lag_h = 1 THEN acf END) AS r1,
         |         max(CASE WHEN lag_h = 2 THEN acf END) AS r2,
         |         max(CASE WHEN lag_h = 3 THEN acf END) AS r3
         |  FROM acfrel GROUP BY event_type),
         |p1 AS (SELECT event_type, r1, r2, r3, $pacfStage1 FROM piv),
         |p2 AS (SELECT event_type, r1, r2, r3, phi11, ${pacfStage2.mkString(", ")} FROM p1),
         |p3 AS (SELECT event_type, r1, r2, r3, phi11, den2, num2, $pacfStage3 FROM p2),
         |p4 AS (SELECT event_type, r1, r2, r3, phi11, phi22, $pacfStage4 FROM p3),
         |p5 AS (SELECT event_type, r1, r2, r3, phi11, phi22, phi21, ${pacfStage5.mkString(", ")} FROM p4),
         |p6 AS (SELECT event_type, r1, r2, r3, phi11, phi22, num3, den3, $pacfStage6 FROM p5)
         |SELECT event_type, r1, r2, r3,
         |       phi11 AS pacf1, phi22 AS pacf2, phi33 AS pacf3
         |FROM p6 ORDER BY event_type""".stripMargin,

    "q_ts_ljung_box" -> {
      val pivCols = (1 to 5).flatMap(k => Seq(
        s"max(CASE WHEN lag_h = $k THEN acf END) AS r$k",
        s"CAST(max(CASE WHEN lag_h = $k THEN n END) AS BIGINT) AS n$k"))
        .mkString(",\n         ")
      val baseCols = ((1 to 5).map(k => s"r$k") ++
        (1 to 5).map(k => s"n$k")).mkString(", ")
      s"""WITH $acfCte,
         |piv AS (
         |  SELECT event_type,
         |         $pivCols
         |  FROM acfrel GROUP BY event_type),
         |pn AS (SELECT event_type, $baseCols, n1 + 1 AS n_obs FROM piv),
         |qs AS (SELECT event_type, n_obs, $lbQFormula FROM pn)
         |SELECT event_type, CAST(n_obs AS BIGINT) AS n_obs, q_stat,
         |       $lbVerdictFormula
         |FROM qs ORDER BY event_type""".stripMargin
    },

    // Same gapfilled grid CTEs as crosscorr; frame moments in BIGINT
    // (HUGEINT window sums cast back), then the shared formula set.
    "q_ts_bollinger" ->
      s"""WITH $centGridCte,
         |w AS (
         |  SELECT event_type, h, k,
         |         CAST(count(*) OVER win AS BIGINT) AS n,
         |         CAST(sum(k) OVER win AS BIGINT) AS s1,
         |         CAST(sum((k * k) // $MomentSplit) OVER win AS BIGINT) AS s2hi,
         |         CAST(sum((k * k) % $MomentSplit) OVER win AS BIGINT) AS s2lo
         |  FROM g
         |  WINDOW win AS (PARTITION BY event_type ORDER BY h
         |                 ROWS BETWEEN ${BollWindow - 1} PRECEDING AND CURRENT ROW))
         |SELECT event_type, h AS hour,
         |       ${bollFormulas.mkString(",\n       ")}
         |FROM w WHERE n = $BollWindow ORDER BY event_type, hour""".stripMargin,

    // b and agg are each read twice -> MATERIALIZED; the score runs in
    // HUGEINT where the engine uses DECIMAL(38,0) (the ohlc okey
    // precedent) — identical integers, and the score never reaches the
    // output schema
    "q_ts_downsample" ->
      s"""WITH p AS (
         |  SELECT event_type AS et, epoch_us(ts) AS x,
         |         CAST(round(value * 100) AS BIGINT) AS y
         |  FROM events),
         |x0 AS (SELECT min(x) AS x0 FROM p),
         |b AS MATERIALIZED (
         |  SELECT et, x, y, x - x0 AS xr, x // $HourUs AS b
         |  FROM p CROSS JOIN x0),
         |agg AS MATERIALIZED (
         |  SELECT et, b, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(xr) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
         |  FROM b GROUP BY et, b),
         |nbr AS (
         |  SELECT a.et, a.b, a.n,
         |         pv.n AS np, pv.sx AS sxp, pv.sy AS syp,
         |         nx.n AS nn, nx.sx AS sxn, nx.sy AS syn
         |  FROM agg a
         |  JOIN agg pv ON pv.et = a.et AND pv.b = a.b - 1
         |  JOIN agg nx ON nx.et = a.et AND nx.b = a.b + 1),
         |sc AS (
         |  SELECT b.et, b.b, b.x, b.y, nbr.n,
         |         abs((CAST(sxp AS HUGEINT) * nn - CAST(sxn AS HUGEINT) * np)
         |               * (CAST(b.y AS HUGEINT) * np - syp)
         |             - (CAST(sxp AS HUGEINT) - CAST(b.xr AS HUGEINT) * np)
         |               * (CAST(syn AS HUGEINT) * np - CAST(syp AS HUGEINT) * nn)) AS score
         |  FROM b JOIN nbr ON nbr.et = b.et AND nbr.b = b.b),
         |r AS (
         |  SELECT et, b, x, y, n,
         |         row_number() OVER (PARTITION BY et, b ORDER BY score DESC, x, y) AS rn
         |  FROM sc)
         |SELECT et AS event_type, b AS bucket, x AS ts_us,
         |       CAST(y AS DOUBLE) / 100 AS value, n
         |FROM r WHERE rn = 1 ORDER BY event_type, bucket""".stripMargin,

    "q_ts_crosscorr" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS h, value FROM events),
         |r AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
         |g0 AS (
         |  SELECT t.event_type, unnest(generate_series(r.h0, r.h1)) AS h
         |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN r),
         |a AS (
         |  SELECT event_type, h,
         |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
         |  FROM e GROUP BY event_type, h),
         |g AS MATERIALIZED (
         |  SELECT g0.event_type, g0.h,
         |         CAST(round(COALESCE(a.sv, 0.0) * 100) AS BIGINT) AS k
         |  FROM g0 LEFT JOIN a USING (event_type, h)),
         |l AS (SELECT unnest(generate_series(0, $AcfMaxLag)) AS lag_h),
         |p AS (
         |  SELECT x.event_type AS et_a, y.event_type AS et_b, l.lag_h,
         |         x.k AS x, y.k AS y
         |  FROM g x CROSS JOIN l
         |  JOIN g y ON y.h = x.h - l.lag_h AND y.event_type <> x.event_type),
         |m AS (
         |  SELECT et_a, et_b, CAST(lag_h AS BIGINT) AS lag_h,
         |         CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS DOUBLE) AS sx,
         |         CAST(sum(y) AS DOUBLE) AS sy,
         |         CAST(sum(CAST((x * x) // $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS sxxhi,
         |         CAST(sum(CAST((x * x) % $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS sxxlo,
         |         CAST(sum(CAST((y * y) // $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS syyhi,
         |         CAST(sum(CAST((y * y) % $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS syylo,
         |         CAST(sum(CAST((x * y) // $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS sxyhi,
         |         CAST(sum(CAST((x * y) % $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS sxylo
         |  FROM p GROUP BY et_a, et_b, lag_h)
         |SELECT et_a, et_b, lag_h, n,
         |       ${ccfFormula.mkString(",\n       ")}
         |FROM m ORDER BY et_a, et_b, lag_h""".stripMargin,

    "q_ts_ohlc" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS h, value,
         |         CAST(epoch_us(ts) AS HUGEINT) * 10000000000000000000
         |           + event_id AS okey
         |  FROM events)
         |SELECT event_type, h AS hour_idx,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       arg_min(value, okey) AS open,
         |       max(value) AS high,
         |       min(value) AS low,
         |       arg_max(value, okey) AS close,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume
         |FROM e GROUP BY event_type, h ORDER BY event_type, hour_idx""".stripMargin,

    "q_ts_candles" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS h,
         |         CAST(round(value * 100) AS BIGINT) AS c,
         |         CAST(epoch_us(ts) AS HUGEINT) * 10000000000000000000
         |           + event_id AS okey
         |  FROM events),
         |bars AS (
         |  SELECT event_type, h,
         |         arg_min(c, okey) AS oc, arg_max(c, okey) AS cc
         |  FROM e GROUP BY event_type, h),
         |fl AS (
         |  SELECT event_type, h, cc > oc AS up,
         |         lag(cc > oc, 1) OVER w AS up1,
         |         lag(cc > oc, 2) OVER w AS up2,
         |         lag(cc, 1) OVER w AS cc1,
         |         lag(cc, 2) OVER w AS cc2,
         |         lag(oc, 1) OVER w AS oc1,
         |         oc, cc
         |  FROM bars
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h)),
         |pt AS (
         |  SELECT event_type, h, up,
         |         (up AND up1 AND up2 AND cc > cc1 AND cc1 > cc2) AS tws,
         |         (up AND NOT up1 AND oc <= cc1 AND cc >= oc1) AS eng
         |  FROM fl)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_bars,
         |       CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         |       CAST(sum(CASE WHEN tws THEN 1 ELSE 0 END) AS BIGINT) AS n_three_white,
         |       CAST(sum(CASE WHEN eng THEN 1 ELSE 0 END) AS BIGINT) AS n_engulf,
         |       CAST(coalesce(max(CASE WHEN tws THEN h END), -1) AS BIGINT) AS last_three_white,
         |       CAST(coalesce(max(CASE WHEN eng THEN h END), -1) AS BIGINT) AS last_engulf
         |FROM pt GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_ts_periodogram" ->
      s"""WITH $centGridCte,
         |${dftAbCtes(mat = false)}
         |SELECT event_type, CAST(period AS BIGINT) AS period,
         |       CAST(n_hours AS BIGINT) AS n_hours, a_dft, b_dft,
         |       $dftPowerFormula
         |FROM ab ORDER BY event_type, period""".stripMargin,

    "q_ts_cross_spectrum" ->
      s"""WITH $centGridCte,
         |${dftAbCtes(mat = true)},
         |pr AS (
         |  SELECT x.event_type AS type_a, y.event_type AS type_b,
         |         x.period, x.n_hours,
         |         x.a_dft AS a_a, x.b_dft AS b_a,
         |         y.a_dft AS a_b, y.b_dft AS b_b
         |  FROM ab x JOIN ab y
         |    ON x.period = y.period AND x.event_type < y.event_type),
         |s1 AS (
         |  SELECT type_a, type_b, period, n_hours,
         |         ${crossStage1.mkString(",\n         ")}
         |  FROM pr)
         |SELECT type_a, type_b, CAST(period AS BIGINT) AS period,
         |       CAST(n_hours AS BIGINT) AS n_hours, re_xy, im_xy,
         |       ${crossStage2.mkString(",\n       ")}
         |FROM s1 ORDER BY type_a, type_b, period""".stripMargin,

    "q_ts_coherence" ->
      s"""WITH $centGridCte,
         |${cohCbCtes(mat = true)},
         |pr AS (
         |  SELECT x.event_type AS type_a, y.event_type AS type_b, x.seg,
         |         x.a_s AS a_a, x.b_s AS b_a, y.a_s AS a_b, y.b_s AS b_b
         |  FROM cb x JOIN cb y
         |    ON x.seg = y.seg AND x.event_type < y.event_type),
         |s1 AS (
         |  SELECT type_a, type_b, seg,
         |         ${crossStage1.mkString(",\n         ")}
         |  FROM pr),
         |ld AS (
         |  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_seg,
         |         list(struct_pack(seg := seg, re_xy := re_xy,
         |              im_xy := im_xy, p_a := p_a, p_b := p_b)
         |              ORDER BY seg) AS xs
         |  FROM s1 GROUP BY 1, 2),
         |sm AS (
         |  SELECT type_a, type_b, n_seg,
         |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           list_transform(xs, v -> v.re_xy)), (p, q) -> p + q) AS sum_re,
         |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           list_transform(xs, v -> v.im_xy)), (p, q) -> p + q) AS sum_im,
         |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           list_transform(xs, v -> v.p_a)), (p, q) -> p + q) AS sum_px,
         |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           list_transform(xs, v -> v.p_b)), (p, q) -> p + q) AS sum_py
         |  FROM ld)
         |SELECT type_a, type_b, n_seg, sum_re, sum_im, sum_px, sum_py,
         |       $cohFormula
         |FROM sm ORDER BY type_a, type_b""".stripMargin,

    "q_ts_welch" ->
      s"""WITH $centGridCte,
         |${cohCbCtes(mat = false)},
         |wp AS (
         |  SELECT event_type, seg, $welchPFormula
         |  FROM cb),
         |wl AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_seg,
         |         CAST(sum(seg) AS BIGINT) AS sxl,
         |         CAST(sum(seg * seg) AS BIGINT) AS sxxl,
         |         list(struct_pack(seg := seg, p_seg := p_seg)
         |              ORDER BY seg) AS xs
         |  FROM wp GROUP BY 1),
         |ws AS (
         |  SELECT event_type, n_seg, sxl, sxxl,
         |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           list_transform(xs, v -> v.p_seg)), (p, q) -> p + q) AS sy,
         |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           list_transform(xs, v -> CAST(v.seg AS DOUBLE) * v.p_seg)),
         |           (p, q) -> p + q) AS sxy
         |  FROM wl)
         |SELECT event_type, n_seg, sy, sxy,
         |       ${welchFormulas.mkString(",\n       ")}
         |FROM ws ORDER BY event_type""".stripMargin,

    "q_ts_perm_entropy" -> {
      val patCols = permPatterns.map { case (nm, id) =>
        s"CAST(coalesce(max(CASE WHEN pid = $id THEN cnt END), 0) AS BIGINT) AS c$nm"
      }.mkString(",\n         ")
      s"""WITH $centGridCte,
         |lagd AS (
         |  SELECT event_type,
         |         lag(k, 2) OVER w AS a, lag(k, 1) OVER w AS b, k AS c
         |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY h)),
         |pids AS (
         |  SELECT event_type, $permPatternFormula
         |  FROM lagd WHERE a IS NOT NULL),
         |byp AS (
         |  SELECT event_type, pid, CAST(count(*) AS BIGINT) AS cnt
         |  FROM pids GROUP BY event_type, pid),
         |rep AS (
         |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_triples,
         |         $patCols,
         |         CAST(sum(cnt * (length(bin(cnt)) - 1)) AS BIGINT) AS spart,
         |         CAST(max(cnt) AS BIGINT) AS cmax
         |  FROM byp GROUP BY event_type)
         |SELECT event_type, n_triples, c012, c021, c102, c120, c201, c210,
         |       n_triples * (length(bin(n_triples)) - 1) - spart AS hq_perm,
         |       CAST(cmax AS DOUBLE) / CAST(n_triples AS DOUBLE) AS max_share
         |FROM rep ORDER BY event_type""".stripMargin
    },

    "q_ts_trend" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS h, value FROM events),
         |r AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
         |g0 AS (
         |  SELECT t.event_type, r.h0, unnest(generate_series(r.h0, r.h1)) AS h
         |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN r),
         |a AS (
         |  SELECT event_type, h,
         |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
         |  FROM e GROUP BY event_type, h),
         |g AS (
         |  SELECT g0.event_type, g0.h - g0.h0 AS x,
         |         CAST(round(COALESCE(a.sv, 0.0) * 100) AS BIGINT) AS k
         |  FROM g0 LEFT JOIN a USING (event_type, h)),
         |m AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS DOUBLE) AS sxd,
         |         CAST(sum(k) AS DOUBLE) AS syd,
         |         CAST(sum(x * x) AS DOUBLE) AS sxxd,
         |         CAST(sum(x * k) AS DOUBLE) AS sxyd,
         |         CAST(sum(CAST((k * k) // $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS syyhi,
         |         CAST(sum(CAST((k * k) % $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS syylo
         |  FROM g GROUP BY event_type)
         |SELECT event_type, n,
         |       ${trendFormulas.mkString(",\n       ")}
         |FROM m ORDER BY event_type""".stripMargin,

    "q_ts_changepoint" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS h, value FROM events),
         |r AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
         |g0 AS (
         |  SELECT t.event_type, unnest(generate_series(r.h0, r.h1)) AS h
         |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN r),
         |a AS (
         |  SELECT event_type, h,
         |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
         |  FROM e GROUP BY event_type, h),
         |g AS MATERIALIZED (
         |  SELECT g0.event_type, g0.h,
         |         CAST(round(COALESCE(a.sv, 0.0) * 100) AS BIGINT) AS k
         |  FROM g0 LEFT JOIN a USING (event_type, h)),
         |tq AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |              CAST(sum(k) AS BIGINT) AS stot
         |       FROM g GROUP BY event_type),
         |cu AS (
         |  SELECT event_type, h,
         |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS n1,
         |         CAST(sum(k) OVER (PARTITION BY event_type ORDER BY h
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1
         |  FROM g),
         |sc AS (
         |  SELECT cu.event_type, cu.h, cu.n1, tq.n,
         |         CAST(cu.s1 AS DOUBLE) AS s1d, CAST(tq.stot AS DOUBLE) AS sd
         |  FROM cu JOIN tq USING (event_type) WHERE cu.n1 < tq.n),
         |sg AS (
         |  SELECT *, $cpGainExpr AS gain,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY $cpGainExpr DESC, h) AS rk
         |  FROM sc)
         |SELECT event_type, h AS split_hour, n1 AS n_left, gain,
         |       ${changepointMeans.mkString(",\n       ")}
         |FROM sg WHERE rk = 1 ORDER BY event_type""".stripMargin,

    "q_ts_ewma" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS h, value FROM events),
         |r AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
         |g0 AS (
         |  SELECT t.event_type, unnest(generate_series(r.h0, r.h1)) AS h
         |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN r),
         |a AS (
         |  SELECT event_type, h,
         |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
         |  FROM e GROUP BY event_type, h),
         |g AS MATERIALIZED (
         |  SELECT g0.event_type, g0.h,
         |         CAST(round(COALESCE(a.sv, 0.0) * 100) AS BIGINT) AS k
         |  FROM g0 LEFT JOIN a USING (event_type, h)),
         |l AS (SELECT unnest(generate_series(0, ${EwmaLags - 1})) AS lag_h),
         |p AS (
         |  SELECT x.event_type, x.h,
         |         (CAST(1 AS BIGINT) << CAST(${EwmaLags - 1} - l.lag_h AS INTEGER)) AS w,
         |         y.k AS k2
         |  FROM g x CROSS JOIN l
         |  JOIN g y ON y.event_type = x.event_type AND y.h = x.h - l.lag_h),
         |m AS (
         |  SELECT event_type, h, CAST(count(*) AS BIGINT) AS n_lags,
         |         CAST(sum(w * k2) AS BIGINT) AS num,
         |         CAST(sum(w) AS BIGINT) AS den
         |  FROM p GROUP BY event_type, h)
         |SELECT event_type, h AS hour_idx, n_lags,
         |       $ewmaFormula
         |FROM m ORDER BY event_type, hour_idx""".stripMargin,

    "q_ts_forecast_naive" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS h, value FROM events),
         |r AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
         |g0 AS (
         |  SELECT t.event_type, unnest(generate_series(r.h0, r.h1)) AS h
         |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN r),
         |a AS (
         |  SELECT event_type, h,
         |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
         |  FROM e GROUP BY event_type, h),
         |g AS (
         |  SELECT g0.event_type, g0.h,
         |         CAST(round(COALESCE(a.sv, 0.0) * 100) AS BIGINT) AS k
         |  FROM g0 LEFT JOIN a USING (event_type, h)),
         |l AS (
         |  SELECT event_type, k,
         |         lag(k, 24) OVER (PARTITION BY event_type ORDER BY h) AS f
         |  FROM g)
         |SELECT event_type, n_scored,
         |       ${forecastFormulas.mkString(",\n       ")}
         |FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored,
         |             CAST(sum(abs(k - f)) AS BIGINT) AS sae,
         |             CAST(sum(k - f) AS BIGINT) AS se
         |      FROM l WHERE f IS NOT NULL GROUP BY event_type)
         |ORDER BY event_type""".stripMargin,

    // d is read by the deviation-median window AND the final census ->
    // MATERIALIZED; both medians are the lower-median row_number idiom
    // (ties share a cent key, so the selected VALUE is deterministic)
    "q_ts_anomaly_mad" ->
      """WITH s AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY round(value * 100)) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |m AS (
        |  SELECT event_type, max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
        |  FROM s GROUP BY event_type),
        |d AS MATERIALIZED (
        |  SELECT e.event_type, m.med,
        |         abs(CAST(round(e.value * 100) AS BIGINT)
        |             - CAST(round(m.med * 100) AS BIGINT)) AS dev_c
        |  FROM events e JOIN m USING (event_type)),
        |s2 AS (
        |  SELECT event_type, dev_c,
        |         row_number() OVER (PARTITION BY event_type ORDER BY dev_c) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |md AS (
        |  SELECT event_type,
        |         max(CASE WHEN rn = (n + 1) // 2 THEN dev_c END) AS mad_c
        |  FROM s2 GROUP BY event_type)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |       min(d.med) AS med,
        |       CAST(min(md.mad_c) AS DOUBLE) / 100.0 AS mad,
        |       CAST(sum(CASE WHEN d.dev_c > 3 * md.mad_c THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       CAST(sum(CASE WHEN d.dev_c > 3 * md.mad_c THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS outlier_rate
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY event_type""".stripMargin,

    "q_ts_seasonal" ->
      s"""WITH h AS (
         |  SELECT event_type, (epoch_us(ts) // $HourUs) % 24 AS hod,
         |         count(*) AS n, sum(CAST(value AS DECIMAL(18,4))) AS svdec
         |  FROM events GROUP BY 1, 2),
         |t AS (
         |  SELECT event_type, CAST(sum(n) AS BIGINT) AS nt,
         |         sum(svdec) AS svtdec
         |  FROM h GROUP BY event_type),
         |j AS (
         |  SELECT h.event_type, h.hod, CAST(h.n AS BIGINT) AS n, t.nt,
         |         CAST(h.svdec AS DOUBLE) AS svd, CAST(t.svtdec AS DOUBLE) AS svtd
         |  FROM h JOIN t USING (event_type))
         |SELECT event_type, hod, n,
         |       ${seasonalFormulas.mkString(",\n       ")}
         |FROM j ORDER BY event_type, hod""".stripMargin,

    "q_ts_anova" ->
      s"""WITH ev AS (
         |  SELECT event_type, (epoch_us(ts) // $HourUs) % 24 AS hod,
         |         CAST(round(value * 100) AS BIGINT) AS k
         |  FROM events),
         |cell AS (
         |  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS nh,
         |         CAST(sum(k) AS BIGINT) AS sh
         |  FROM ev GROUP BY event_type, hod),
         |tot AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(k) AS BIGINT) AS sk,
         |         CAST(sum((k * k) // $MomentSplit) AS BIGINT) AS s2hi,
         |         CAST(sum((k * k) % $MomentSplit) AS BIGINT) AS s2lo
         |  FROM ev GROUP BY event_type),
         |trm AS (
         |  SELECT event_type,
         |         ${(0 until 24).map(h =>
      s"max(CASE WHEN hod = $h THEN (CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE)) / nh END) AS t$h")
      .mkString(",\n         ")},
         |         CAST(count(*) AS BIGINT) AS k_groups
         |  FROM cell GROUP BY event_type),
         |tm AS (SELECT event_type, $anovaSumTerm AS sumterm, k_groups
         |       FROM trm),
         |j AS (
         |  SELECT t.event_type, t.n, tm.k_groups, tm.sumterm,
         |         CAST(t.sk AS DOUBLE) AS skd,
         |         (CAST(t.s2hi AS DOUBLE) * $MomentSplit.0 + CAST(t.s2lo AS DOUBLE)) AS s2d,
         |         CAST(t.n AS DOUBLE) AS nd
         |  FROM tot t JOIN tm ON tm.event_type = t.event_type),
         |ss AS (
         |  SELECT event_type, n, k_groups,
         |         s2d - skd * skd / nd AS sst,
         |         sumterm - skd * skd / nd AS ssb
         |  FROM j),
         |sw AS (SELECT event_type, n, k_groups, sst, ssb, sst - ssb AS ssw FROM ss)
         |SELECT event_type, n, sst, ssb, ssw,
         |       ssb / sst AS eta_sq,
         |       (ssb / (k_groups - 1)) / (ssw / (n - k_groups)) AS f_stat
         |FROM sw ORDER BY event_type""".stripMargin,

    "q_ts_theil_sen" ->
      s"""WITH $centGridCte,
         |p AS (
         |  SELECT g1.event_type,
         |         CAST(g2.k - g1.k AS DOUBLE) / CAST(g2.h - g1.h AS DOUBLE) AS slope
         |  FROM g g1 JOIN g g2
         |    ON g1.event_type = g2.event_type AND g1.h < g2.h),
         |rk AS (
         |  SELECT event_type, slope,
         |         row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS np
         |  FROM p)
         |SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
         |       slope / CAST(100 AS DOUBLE) AS slope_per_hour
         |FROM rk WHERE rn = (np + 1) // 2
         |ORDER BY event_type""".stripMargin,

    "q_ts_mann_kendall" ->
      s"""WITH $centGridCte,
         |pr AS (
         |  SELECT g1.event_type,
         |         CAST(sum(CASE WHEN g2.k > g1.k THEN 1
         |                       WHEN g2.k < g1.k THEN -1 ELSE 0 END) AS BIGINT) AS s
         |  FROM g g1 JOIN g g2
         |    ON g1.event_type = g2.event_type AND g1.h < g2.h
         |  GROUP BY g1.event_type),
         |tg AS (
         |  SELECT event_type, k, CAST(count(*) AS BIGINT) AS t
         |  FROM g GROUP BY event_type, k),
         |tv AS (
         |  SELECT event_type, CAST(sum(t) AS BIGINT) AS n,
         |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_adj
         |  FROM tg GROUP BY event_type),
         |j AS (
         |  SELECT pr.event_type, pr.s,
         |         tv.n * (tv.n - 1) * (2 * tv.n + 5) - tv.tie_adj AS vnum
         |  FROM pr JOIN tv ON tv.event_type = pr.event_type),
         |jz AS (
         |  SELECT event_type, CAST(s AS BIGINT) AS s_stat,
         |         CAST(vnum AS BIGINT) AS var_num, s, vnum
         |  FROM j),
         |z AS (SELECT event_type, s_stat, var_num, $mkZFormula FROM jz)
         |SELECT event_type, s_stat, var_num, z, $mkTrendFormula
         |FROM z ORDER BY event_type""".stripMargin,

    "q_ts_runs_test" ->
      s"""WITH $centGridCte,
         |med AS (
         |  SELECT event_type, max(CASE WHEN rn = (ng + 1) // 2 THEN k END) AS med_k
         |  FROM (SELECT event_type, k,
         |          row_number() OVER (PARTITION BY event_type ORDER BY k, h) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS ng
         |        FROM g) s
         |  GROUP BY event_type),
         |sg AS (
         |  SELECT g.event_type, g.h,
         |         CASE WHEN g.k > med.med_k THEN 1 ELSE -1 END AS sgn
         |  FROM g JOIN med USING (event_type)
         |  WHERE g.k <> med.med_k),
         |runs AS (
         |  SELECT event_type,
         |         CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
         |         CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
         |         CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
         |  FROM (SELECT event_type, sgn,
         |          lag(sgn) OVER (PARTITION BY event_type ORDER BY h) AS prev
         |        FROM sg) t
         |  GROUP BY event_type),
         |st1 AS (SELECT event_type, n, n_above, n_below, n_runs, $runsEFormula FROM runs),
         |st2 AS (SELECT event_type, n, n_above, n_below, n_runs, e_runs, $runsVFormula FROM st1),
         |st3 AS (SELECT event_type, n, n_above, n_below, n_runs, e_runs, var_runs, $runsZFormula FROM st2)
         |SELECT event_type, n, n_above, n_below, n_runs, e_runs, var_runs, z, $runsVerdictFormula
         |FROM st3 ORDER BY event_type""".stripMargin,

    "q_ts_cusum" ->
      s"""WITH $centGridCte,
         |med AS (
         |  SELECT event_type, max(CASE WHEN rn = (ng + 1) // 2 THEN k END) AS med_k
         |  FROM (SELECT event_type, k,
         |          row_number() OVER (PARTITION BY event_type ORDER BY k, h) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS ng
         |        FROM g) s1
         |  GROUP BY event_type),
         |dev AS (
         |  SELECT g.event_type, g.h, g.k - med.med_k AS dev
         |  FROM g JOIN med USING (event_type)),
         |mad AS (
         |  SELECT event_type, max(CASE WHEN rn = (ng + 1) // 2 THEN adev END) AS mad_k
         |  FROM (SELECT event_type, abs(dev) AS adev, h,
         |          row_number() OVER (PARTITION BY event_type ORDER BY abs(dev), h) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS ng
         |        FROM dev) s2
         |  GROUP BY event_type),
         |c1 AS (
         |  SELECT event_type, h,
         |         sum(dev - mad_k) OVER (PARTITION BY event_type ORDER BY h
         |                                ROWS UNBOUNDED PRECEDING) AS c
         |  FROM dev JOIN mad USING (event_type)),
         |c2 AS (
         |  SELECT event_type, h,
         |         c - least(0, min(c) OVER (PARTITION BY event_type ORDER BY h
         |                                   ROWS UNBOUNDED PRECEDING)) AS s
         |  FROM c1),
         |pk AS (
         |  SELECT event_type, s, h FROM (
         |    SELECT event_type, s, h,
         |           row_number() OVER (PARTITION BY event_type
         |                              ORDER BY s DESC, h ASC) AS rn
         |    FROM c2) WHERE rn = 1)
         |SELECT c2.event_type, CAST(count(*) AS BIGINT) AS n_hours,
         |       CAST(min(pk.s) AS DOUBLE) / 100 AS max_cusum,
         |       CAST(min(pk.h) AS BIGINT) AS peak_hour,
         |       CAST(sum(CASE WHEN c2.s > 3 * mad.mad_k THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
         |       CAST(min(med.med_k) AS DOUBLE) / 100 AS target,
         |       CAST(3 * min(mad.mad_k) AS DOUBLE) / 100 AS threshold
         |FROM c2 JOIN mad USING (event_type) JOIN med USING (event_type)
         |         JOIN pk USING (event_type)
         |GROUP BY c2.event_type ORDER BY event_type""".stripMargin
  )
}
