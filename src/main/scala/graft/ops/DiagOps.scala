package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ReplayableHash

/** Dataset-diagnostics operators (SURVEY §2B "LLM-pipeline extensions",
  * round 6): column profiling, heavy-hitter / skew analysis, robust-stats
  * outlier flagging, exact distributed winsorization, and time-series
  * gap-fill — the "understand and repair the data before training on it"
  * toolkit.
  *
  * Scale design (100 TB):
  *   - profiling is ONE pass: a Catalyst `stack` expand (4 rows per input
  *     row, column-pruned to the profiled columns) into a hash agg keyed by
  *     column name — never one job per column;
  *   - heavy hitters aggregate to #distinct-keys rows, take the top-k with
  *     TakeOrderedAndProject, and only the k survivors cross the one
  *     single-partition window (k rows, constant);
  *   - z-scores come from a broadcast per-group stats relation (exact
  *     DECIMAL moments surfaced as DOUBLE once — the §7.4 discipline);
  *   - winsorization needs per-group ORDER STATISTICS — the classic
  *     per-group-sort trap for a 5-value group key — and selects them from
  *     a per-(group, value) prefix-count index built by globalRowNumber
  *     (see valueAtRanks); the per-group cut points broadcast back. No
  *     group ever sorts in one task;
  *   - gap-fill generates the dense (group × hour) grid from a broadcast
  *     1-row range relation — grid size = #groups × #hours, independent of
  *     event count — and left-joins the per-bucket aggregates.
  */
object DiagOps {

  /** Cent-value bucket width of the q_profile_drift histogram. */
  private[ops] val WinsorBucket = 4096L

  /** Micros per hour (gap-fill bucket). */
  private[graft] val HourUs = 3600000000L

  /** hi/lo split base for the 3rd/4th scaled-moment sums: each partial sum
    * stays below 2^53 at the oracle scales, so BOTH engines' (decimal →
    * double) conversions are EXACT — a single decimal sum above 2^64 is
    * NOT replayable (DuckDB converts the two int128 limbs separately,
    * off-by-ulps vs Spark's correctly-rounded BigDecimal path; found by
    * the round-6 hash gate). */
  private[graft] val MomentSplit = 1073741824L // 2^30

  /** q_profile_corr variable list: (short name, source column) over
    * lineitem's four measures, cents-quantized to exact BIGINTs. Sorted
    * by short name so the generated pair rows carry a total order. */
  private[ops] val corrVars: Seq[(String, String)] = Seq(
    "di" -> "l_discount", "ep" -> "l_extendedprice",
    "qt" -> "l_quantity", "tx" -> "l_tax")

  /** Unordered (a, b) pairs INCLUDING a=a — the self pairs are the
    * variance moments the r denominator reads. */
  private[ops] val corrSelfAndCross: Seq[(String, String)] =
    for (i <- corrVars.indices; j <- i until corrVars.length)
      yield (corrVars(i)._1, corrVars(j)._1)

  /** q_ts_forecast_naive shared projections over (n_scored, sae, se) —
    * MAE and signed bias back in value units, one IEEE division chain
    * each over exact BIGINT cent sums. private[graft]: the streaming twin
    * (StreamingForecastNaive.latestReport) evaluates the SAME strings so
    * the two reports cannot drift. */
  private[graft] val forecastFormulas: Seq[String] = Seq(
    "CAST(sae AS DOUBLE) / n_scored / 100 AS mae",
    "CAST(se AS DOUBLE) / n_scored / 100 AS bias")

  private[ops] def corrMoment(a: String, b: String): String =
    s"(m_${a}_${b}_hi * $MomentSplit.0 + m_${a}_${b}_lo)"

  /** Pearson r over the exact moments — ONE generated formula string per
    * pair, evaluated identically by both engines (numerator, then two
    * sqrt divisions, fixed order). */
  private[ops] def corrFormula(a: String, b: String): String =
    s"(n * ${corrMoment(a, b)} - s_$a * s_$b)" +
      s" / sqrt(n * ${corrMoment(a, a)} - s_$a * s_$a)" +
      s" / sqrt(n * ${corrMoment(b, b)} - s_$b * s_$b)"

  /** q_ts_acf: max lag of the correlogram. */
  private[ops] val AcfMaxLag = 5L

  /** q_ts_ewma: truncated-window length K — the smoother reads the K most
    * recent grid hours with geometric weights 2^(K-1-lag) (α = 1/2). */
  private[ops] val EwmaLags = 8L

  /** q_agg_countmin: sketch depth (rows — one [[ReplayableHash]] affine
    * hash each, salt 11) and width (columns per row). Shared with the
    * streaming twin (streaming.StreamingCountMin). */
  private[graft] val CmDepth = 4
  private[graft] val CmWidth = 512L

  /** q_agg_kmv_distinct: sketch capacity k — the estimator reads the k-th
    * smallest distinct hash value; 64 puts the fixture's 150-users-per-type
    * sf0.01 corpus in the ESTIMATOR branch (rsd ≈ 1/√62 ≈ 13 %) while
    * sf0.001's 15 users exercise the exact under-capacity branch. */
  private[graft] val KmvK = 64

  /** Shared seasonal-profile projections over (n, nt, svd, svtd) — ONE
    * formula set evaluated by both engines: per-(type, hour-of-day) event
    * share, mean value, and deviation from the type's overall mean.
    * svd/svtd are exact-DECIMAL sums surfaced as DOUBLE once (< 2^64
    * scaled — the replay rule); everything after is IEEE-exact division
    * and subtraction in a fixed order. */
  private[ops] val seasonalFormulas = Seq(
    "CAST(n AS DOUBLE) / nt AS share",
    "svd / n AS mean_v",
    "svd / n - svtd / nt AS dev_from_mean")

  /** Shared diversity projections over (n, sc2) — HHI concentration,
    * Gini impurity, and effective category count, each a fixed IEEE
    * division chain over exact BIGINTs. */
  private[ops] val diversityFormulas: Seq[String] = Seq(
    "CAST(sc2 AS DOUBLE) / n / n AS hhi",
    "CAST(1 AS DOUBLE) - CAST(sc2 AS DOUBLE) / n / n AS gini",
    "CAST(1 AS DOUBLE) / (CAST(sc2 AS DOUBLE) / n / n) AS effective_langs")

  /** Shared per-bucket chi-square term over (c1, c2, n1, n2) — the
    * two-sample homogeneity statistic's bucket contribution in the
    * algebraic form (c1·n2 − c2·n1)²/((c1+c2)·n1·n2). The BIGINT
    * difference stays < 2^53 (exact DOUBLE cast); the square and the
    * three divisions are IEEE-exact in a fixed order. Integer bound:
    * c·n < 2^63 up to ~3·10⁹ rows per half — beyond that pre-divide the
    * counts (the collocations scale rule). */
  private[ops] val driftTermExpr =
    "CAST(c1 * n2 - c2 * n1 AS DOUBLE) * CAST(c1 * n2 - c2 * n1 AS DOUBLE)" +
      " / CAST(c1 + c2 AS DOUBLE) / n1 / n2"

  /** Shared OLS-trend projections over (n, sxd, syd, sxxd, sxyd, syyhi,
    * syylo) — slope/intercept/r² of the hourly cent series against the
    * 0-based hour index. Every raw sum is an exact BIGINT < 2^53 (x ≤
    * #hours, x·k ≤ #hours · per-hour cents) surfaced as DOUBLE once —
    * EXCEPT Σk², which is hi/lo-split (div/% 2^30) like the acf second
    * moments; products like n·Σxy then happen in doubles (deterministic
    * IEEE, fixed order). Slope/intercept reported in dollars (/100). */
  private[ops] val trendFormulas: Seq[String] = {
    val syy = s"(syyhi * $MomentSplit.0 + syylo)"
    val num = "(n * sxyd - sxd * syd)"
    val den = "(n * sxxd - sxd * sxd)"
    val slope = s"$num / $den"
    Seq(
      s"$slope / 100.0 AS slope_per_hour",
      s"((syd - $slope * sxd) / n) / 100.0 AS intercept",
      s"CASE WHEN (n * $syy - syd * syd) > 0" +
        s" THEN $num * $num / ($den * (n * $syy - syd * syd)) END AS r2")
  }

  /** Shared changepoint projections over (s1d, n1, sd, n) — ONE formula
    * set: the between-segment sum-of-squares gain of splitting the hourly
    * cent series after a candidate hour (S1²/n1 + S2²/n2 − S²/n, the
    * two-segment least-squares criterion), plus the two segment means in
    * dollars. Cent sums stay < 2^53 ⇒ the DOUBLE casts are exact and the
    * multiply/divide chain is IEEE-exact in a fixed order. */
  private[ops] val cpGainExpr =
    "s1d * s1d / n1 + (sd - s1d) * (sd - s1d) / (n - n1) - sd * sd / n"
  private[ops] val changepointMeans: Seq[String] = Seq(
    "s1d / n1 / 100.0 AS mean_left",
    "(sd - s1d) / (n - n1) / 100.0 AS mean_right")

  /** Shared EWMA projection over (num, den) — ONE formula string evaluated
    * by both engines. num ≤ 255 × per-hour cent sum stays < 2^53 at any
    * recorded fixture scale, so the BIGINT→DOUBLE casts are exact; /100.0
    * restores dollars from cents. */
  private[ops] val ewmaFormula = "CAST(num AS DOUBLE) / den / 100.0 AS ewma"

  /** Shared ACF projection over (n, sx, sy, s{xx,yy,xy}{hi,lo}) — ONE
    * formula string evaluated by both engines (the momentFormulas
    * discipline), recombining the hi/lo-split second moments in doubles.
    * Declared AFTER [[MomentSplit]]: object vals initialize in order, and
    * a forward reference would bake 0 into the formula string. */
  private[ops] val acfFormula: Seq[String] = {
    val sxx = s"(sxxhi * $MomentSplit.0 + sxxlo)"
    val syy = s"(syyhi * $MomentSplit.0 + syylo)"
    val sxy = s"(sxyhi * $MomentSplit.0 + sxylo)"
    val den = s"(sqrt($sxx - sx * sx / n) * sqrt($syy - sy * sy / n))"
    Seq(s"CASE WHEN $den > 0 THEN ($sxy - sx * sy / n) / $den END AS acf")
  }

  /** q_ts_crosscorr: the identical Pearson-over-split-moments projection,
    * aliased for the cross-series output column (sharing the string keeps
    * the IEEE op sequence pinned to q_ts_acf's). */
  private[ops] val ccfFormula: Seq[String] =
    acfFormula.map(_.replace(" AS acf", " AS ccf"))

  /** The per-lag Pearson correlogram relation (event_type, lag_h, n, acf)
    * — the ONE implementation behind q_ts_acf and q_ts_pacf (r12). */
  private[ops] def acfRelOf(s: SparkSession, dir: String): DataFrame =
    // r15 (optimization): rides the memoized zero-filled grid — the
    // inline grid assembly this chain used was op-identical to gridOf,
    // so the correlogram substrate now starts from the span·domain-
    // bounded leaf instead of re-scanning events per consumer call
    // (acf / pacf / ljung_box each rebuilt it, with the twice-read g
    // re-running the events aggregate per reference).
    acfRelFromGrid(hourlyCentGrid(s, dir))

  /** [[acfRelOf]]'s body over an already-aggregated (event_type, h, sv)
    * hourly relation — factored (r15) so the streaming spectral monitor's
    * correlogram reads run the IDENTICAL batch chain over the
    * state-induced bars (the grid-twin widening pattern; the observed
    * (type, h) set, min/max hours and distinct types are the same
    * whether derived from event rows or their hourly aggregate). The
    * grid assembly IS [[gridOf]] (one text, zero drift). */
  private[graft] def acfRelFromHourly(actual: DataFrame): DataFrame =
    acfRelFromGrid(gridOf(actual))

  /** The correlogram tail over a zero-filled cent grid `(event_type, h,
    * k)` — the per-lag Pearson moment chain. */
  private[graft] def acfRelFromGrid(g: DataFrame): DataFrame = {
    // lag fan-out via explode on the bounded grid (5 rows per grid row)
    // — no broadcast-nested-loop join anywhere in the plan
    val pairs = g
      .withColumn("lag_h", explode(expr(
        s"sequence(CAST(1 AS BIGINT), CAST($AcfMaxLag AS BIGINT))")))
      .join(g.select(col("event_type").as("et2"), col("h").as("h2"),
        col("k").as("k2")),
        col("event_type") === col("et2") && col("h2") === col("h") - col("lag_h"))
      .select(col("event_type"), col("lag_h"), col("k").as("x"), col("k2").as("y"))
    val agg = pairs
      .withColumn("pxx", col("x") * col("x"))
      .withColumn("pyy", col("y") * col("y"))
      .withColumn("pxy", col("x") * col("y"))
      .groupBy("event_type", "lag_h")
      .agg(asLong(count(lit(1))).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(expr(s"pxx div $MomentSplit").cast("decimal(38,0)")).cast("double").as("sxxhi"),
        sum(expr(s"pxx % $MomentSplit").cast("decimal(38,0)")).cast("double").as("sxxlo"),
        sum(expr(s"pyy div $MomentSplit").cast("decimal(38,0)")).cast("double").as("syyhi"),
        sum(expr(s"pyy % $MomentSplit").cast("decimal(38,0)")).cast("double").as("syylo"),
        sum(expr(s"pxy div $MomentSplit").cast("decimal(38,0)")).cast("double").as("sxyhi"),
        sum(expr(s"pxy % $MomentSplit").cast("decimal(38,0)")).cast("double").as("sxylo"))
    agg.selectExpr(Seq("event_type", "lag_h", "n") ++ acfFormula: _*)
  }

  /** q_ts_pacf staged Durbin–Levinson projections (lags 1..3) — ONE text
    * per engine per stage; num2/den2 both contain the r1·phi11 product
    * but each engine evaluates the identical double op, so the values
    * coincide (the exact-integer-re-derivation rule's FP analog: same
    * inputs + same single op = same result). Zero denominators read 0. */
  /** The q_ts_acf / q_ts_pacf shared oracle chain — the per-lag Pearson
    * correlogram to `acfrel(event_type, lag_h, n, acf)` (one text, zero
    * drift; `g` reads twice inside → MATERIALIZED). */
  private[ops] lazy val acfCte: String =
    s"""e AS (
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
       |l AS (SELECT unnest(generate_series(1, $AcfMaxLag)) AS lag_h),
       |p AS (
       |  SELECT x.event_type, l.lag_h, x.k AS x, y.k AS y
       |  FROM g x CROSS JOIN l
       |  JOIN g y ON y.event_type = x.event_type AND y.h = x.h - l.lag_h),
       |m AS (
       |  SELECT event_type, CAST(lag_h AS BIGINT) AS lag_h,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(x) AS DOUBLE) AS sx,
       |         CAST(sum(y) AS DOUBLE) AS sy,
       |         CAST(sum(CAST((x * x) // $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS sxxhi,
       |         CAST(sum(CAST((x * x) % $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS sxxlo,
       |         CAST(sum(CAST((y * y) // $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS syyhi,
       |         CAST(sum(CAST((y * y) % $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS syylo,
       |         CAST(sum(CAST((x * y) // $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS sxyhi,
       |         CAST(sum(CAST((x * y) % $MomentSplit AS DECIMAL(38,0))) AS DOUBLE) AS sxylo
       |  FROM p GROUP BY event_type, lag_h),
       |acfrel AS (
       |  SELECT event_type, lag_h, n,
       |         ${acfFormula.mkString(",\n         ")}
       |  FROM m)""".stripMargin

  private[graft] val pacfStage1: String = "r1 AS phi11"
  private[graft] val pacfStage2: Seq[String] = Seq(
    "CAST(1 AS DOUBLE) - r1 * phi11 AS den2",
    "r2 - r1 * phi11 AS num2")
  private[graft] val pacfStage3: String =
    "CASE WHEN den2 <> CAST(0 AS DOUBLE) THEN num2 / den2" +
      " ELSE CAST(0 AS DOUBLE) END AS phi22"
  private[graft] val pacfStage4: String =
    "phi11 - phi22 * phi11 AS phi21"
  private[graft] val pacfStage5: Seq[String] = Seq(
    "(r3 - phi21 * r2) - phi22 * r1 AS num3",
    "(CAST(1 AS DOUBLE) - phi21 * r1) - phi22 * r2 AS den3")
  private[graft] val pacfStage6: String =
    "CASE WHEN den3 <> CAST(0 AS DOUBLE) THEN num3 / den3" +
      " ELSE CAST(0 AS DOUBLE) END AS phi33"

  /** q_ts_bollinger rolling window, in hourly grid rows. */
  private[graft] val BollWindow = 24

  /** q_profile_fd column sweep over lineitem: 4 integral keys + 2 enums.
    * (name, engine BIGINT-digest expr, oracle raw expr). No DOUBLE
    * columns — engine digests must be injective on the observed domain
    * and free of cross-engine double→string formatting; enum strings go
    * through text_full_hash (injective on ≤3 fixed values), ints ride
    * raw. The oracle counts distinct RAW values — equal by injectivity. */
  private[ops] val FdCols: Seq[(String, String)] = Seq(
    "l_linenumber" -> "CAST(l_linenumber AS BIGINT)",
    "l_linestatus" -> "text_full_hash(l_linestatus)",
    "l_orderkey" -> "l_orderkey",
    "l_partkey" -> "l_partkey",
    "l_returnflag" -> "text_full_hash(l_returnflag)",
    "l_suppkey" -> "l_suppkey")

  private[ops] val FdPairs: Seq[(Int, Int)] =
    for (i <- FdCols.indices; j <- i + 1 until FdCols.length) yield (i, j)

  /** q_profile_benford expected shares: log10(1 + 1/d) computed ONCE at
    * code-gen time and embedded as shortest-round-trip double literals —
    * both engines parse the identical text to the identical double (no
    * runtime libm anywhere). */
  private[ops] val BenfordShares: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** Benford report over a (first_digit, n) count relation — the SINGLE
    * implementation behind q_profile_benford and
    * [[graft.streaming.StreamingBenford]].report (r12 twin discipline:
    * shared body). The count relation is value-domain-bounded (≤9 rows
    * forever), so both broadcasts are legal at any corpus size. */
  private[graft] def benfordReport(digits: DataFrame): DataFrame = {
    val s = digits.sparkSession
    import s.implicits._
    val tot = digits.agg(asLong(sum(col("n"))).as("total"))
    val exp9 = BenfordShares.toDF("first_digit", "benford_share")
    exp9.join(broadcast(digits), Seq("first_digit"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .select(col("first_digit"), asLong(col("n")).as("n"),
        (col("n").cast("double") / col("total")).as("share"),
        col("benford_share"),
        abs(col("n").cast("double") / col("total") - col("benford_share"))
          .as("abs_dev"))
      .orderBy("first_digit")
  }

  /** Scan-side first-digit projection over an o_totalprice-bearing frame
    * (shared by the batch key and the streaming twin's input builder). */
  private[graft] def firstDigitCol: Column = expr(
    "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS INT)")

  /** Gapfilled hourly cent grid over events — the acf/ewma/crosscorr
    * grid, factored out (r12) so q_ts_bollinger, its streaming twin's
    * parity harness, and future grid consumers share ONE builder:
    * (event_type, h, k) with k = round(Σvalue · 100), zeros for silent
    * hours, one row per (type, hour) across the corpus time span. */
  /** Session-lifetime memo of the zero-filled hourly cent grid per
    * fixture digest (r15 optimization): the grid is the substrate of the
    * whole ts family (~20 consumers), is span·domain-bounded
    * (#types · span-hours rows at ANY corpus size), and was previously
    * rebuilt per query call — with gridOf's three references to the
    * per-hour aggregate each re-running the events scan, every grid
    * consumer paid 3 corpus passes per invocation. A derived-but-
    * fixture-pure relation memoizes like any index (the r10 mad-dev
    * rule); exact BIGINT cents, so every consumer is bit-identical.
    *
    * Session-lifetime memo of the RAW hourly aggregate
    * `(event_type, h, cnt, sv)` per fixture digest (r16, verdict item 2):
    * the superset the zero-filled cent grid derives from, widened so
    * gapfill/interpolate (which need cnt / NULL-preserving sv, not the
    * coalesced cents) ride the same single events pass as the ~20 cent-
    * grid consumers. Span·domain-bounded (#types · span-hours rows at
    * ANY corpus size); count + exact-DECIMAL sum are order-free, so
    * every derivation is bit-identical to the former inline builds. */
  private[graft] def hourlyAggFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "hourlyAgg", SourceSinkOps.fixtureKey(dir, "events.parquet")) {
      hourlyAgg(table(s, dir, "events")).localCheckpoint(true)
    }

  /** The raw hourly aggregate `(event_type, h, cnt, sv)` of an events
    * frame — the one builder behind [[hourlyAggFor]] and [[hourlyGrid]]. */
  private[graft] def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withColumn("h", expr(s"unix_micros(ts) div $HourUs"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sv"))

  private[graft] def hourlyCentGrid(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "hourlyCentGrid", SourceSinkOps.fixtureKey(dir, "events.parquet")) {
      gridOf(hourlyAggFor(s, dir)).localCheckpoint(true)
    }

  /** The grid assembly behind [[hourlyCentGrid]], factored (r12c3) over
    * any per-hour relation `(event_type, h, sv DOUBLE)` so the streaming
    * twin's state-table read induces the IDENTICAL zero-filled cent grid
    * (StreamingPeriodogram.report). Same ops, same round, same types. */
  private[graft] def gridOf(hourly: DataFrame): DataFrame = {
    val rng = hourly.agg(min("h").as("h0"), max("h").as("h1"))
    val grid = hourly.select("event_type").distinct()
      .crossJoin(broadcast(rng))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        expr("CAST(round(coalesce(sv, 0.0) * 100) AS BIGINT)").as("k"))
  }

  /** DuckDB replay of [[hourlyCentGrid]] — the zero-filled hourly cent
    * grid `g(event_type, h, k)` shared by the Bollinger and Mann-Kendall
    * oracles (ONE text, zero drift). `g` is MATERIALIZED: the MK twin
    * reads it three times (both pair sides + the tie histogram). */
  private[graft] val centGridCte: String =
    s"""e AS (
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
       |  FROM g0 LEFT JOIN a USING (event_type, h))""".stripMargin

  /** q_ts_anova: the 24-term SSB sum as an EXPLICIT left-associated
    * addition chain over pivoted per-hour columns — an ordered
    * cumulative WINDOW does not replay here (DuckDB's windowed sum is
    * segment-tree pairwise, not sequential; measured last-ulp drift at
    * sf0.1), so the fixed order is pinned the bm25 way: conditional-max
    * pivot + one shared formula string. coalesce-to-+0.0 is
    * addition-neutral (terms are ≥ 0). */
  private[ops] val anovaSumTerm: String =
    (0 until 24).map(h => s"coalesce(t$h, CAST(0 AS DOUBLE))")
      .mkString(" + ")

  /** Shared Mann-Kendall projections: the normalized Z over (s, vnum)
    * and the verdict over z — STAGED as named columns (the abtest
    * discipline: no subexpression is re-derived), every op an IEEE
    * +,−,×,/ or sqrt in a fixed order; the 1.96 critical value is an
    * e0-exponent literal so BOTH engines parse it as DOUBLE via strtod
    * (a bare decimal literal takes the limb-wise decimal→double path —
    * the q_profile_benford rule). */
  private[graft] val mkZFormula: String =
    "CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sqrt(CAST(vnum AS DOUBLE) / CAST(18 AS DOUBLE))" +
      " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sqrt(CAST(vnum AS DOUBLE) / CAST(18 AS DOUBLE))" +
      " ELSE CAST(0 AS DOUBLE) END AS z"
  private[graft] val mkTrendFormula: String =
    "CASE WHEN z > 1.96e0 THEN 'increasing'" +
      " WHEN z < -1.96e0 THEN 'decreasing' ELSE 'none' END AS trend"

  /** Shared Wald–Wolfowitz runs-test projections over
    * (n, n_above, n_below, n_runs) — STAGED named columns, one formula
    * text per engine (the mkZFormula discipline). The `2·n_above·n_below`
    * factor appears twice TEXTUALLY but is exact BIGINT arithmetic, so
    * re-derivation is safe (the no-re-derive rule is about FP
    * subexpressions); every FP op is an IEEE +,−,×,/ or sqrt in a fixed
    * left-associated order. */
  private[graft] val runsEFormula: String =
    "CAST(1 AS DOUBLE) + CAST(2 * n_above * n_below AS DOUBLE) / CAST(n AS DOUBLE) AS e_runs"
  private[graft] val runsVFormula: String =
    "CAST(2 * n_above * n_below AS DOUBLE) * CAST(2 * n_above * n_below - n AS DOUBLE)" +
      " / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS var_runs"
  private[graft] val runsZFormula: String =
    "CASE WHEN var_runs > CAST(0 AS DOUBLE)" +
      " THEN (CAST(n_runs AS DOUBLE) - e_runs) / sqrt(var_runs)" +
      " ELSE CAST(0 AS DOUBLE) END AS z"
  private[graft] val runsVerdictFormula: String =
    "CASE WHEN z < -1.96e0 THEN 'clustered'" +
      " WHEN z > 1.96e0 THEN 'oscillating' ELSE 'random' END AS verdict"

  /** q_ts_ljung_box: the portmanteau Q statistic over the shared
    * correlogram — Q = N(N+2)·Σ_{k≤5} ρ_k²/(N−k), with N−k exactly the
    * pair count n_k acfRelOf already carries and N = n_1 + 1. The 5-term
    * sum is an EXPLICIT left-associated chain (the anova pivot rule — an
    * unordered sum of doubles does not replay), each term two ops on a
    * column read once. The 0.05 critical value for df=5 enters as an
    * e0-exponent literal (the benford strtod rule). */
  private[graft] val lbQFormula: String =
    "CAST(n_obs AS DOUBLE) * CAST(n_obs + 2 AS DOUBLE) * (" +
      (1 to 5).map(k => s"r$k * r$k / CAST(n$k AS DOUBLE)")
        .mkString(" + ") + ") AS q_stat"
  private[graft] val lbVerdictFormula: String =
    "q_stat > 11.0705e0 AS white_noise_rejected"

  /** q_ts_periodogram: integer-quantized DFT tables. For each probed
    * period p and residue r ∈ [0, p): cr = round(cos(2πr/p)·2^16),
    * sr = round(sin(2πr/p)·2^16) — BIGINT literals GENERATED from this one
    * constant set into both engines (the ReplayableHash discipline), so
    * neither engine calls libm and no strtod surface exists at query time.
    * Quantization error ~2^-16 relative on the spectral estimate — a
    * declared trade, same spirit as the ilog2 quanta entropy. */
  private[graft] val DftQ = 65536L
  private[graft] val DftPeriods = Seq(24, 168)
  private[graft] val dftTable: Seq[(Int, Int, Long, Long)] =
    DftPeriods.flatMap { p =>
      (0 until p).map { r =>
        val th = 2.0 * math.Pi * r / p
        (p, r, math.round(math.cos(th) * DftQ), math.round(math.sin(th) * DftQ))
      }
    }
  private[graft] val dftTableSql: String =
    dftTable.map { case (p, r, c, sn) => s"($p, $r, $c, $sn)" }.mkString(", ")

  /** Staged periodogram readout over (asum, bsum, n_hours) — ONE formula
    * text per engine, each op a single IEEE division / multiply in fixed
    * left-associated order. asum/bsum are exact integers (|Σ cr·d| ≤
    * 2^16 · Σ|d| with d = n·s_r − cnt_r·T; ~1.1e17 at sf0.1 — below 2^53
    * is NOT required: BIGINT→DOUBLE casts are correctly rounded in both
    * engines, and the oracle funnels its HUGEINT sum through CAST(… AS
    * BIGINT), which ERRORS loudly past 2^63 — documented bound,
    * hi/lo-split (the q_agg_skew rule) if a corpus ever approaches it). */
  /** q_ts_perm_entropy: ordinal-pattern id of the hour-ordered triple
    * (a, b, c) = (lag2, lag1, current) under the (value, position)
    * lexicographic total order (ties rank the EARLIER hour lower — the
    * standard stable treatment, so the id is always one of the 6 valid
    * permutations). rank(x) = #elements strictly before x in that order;
    * id = ra·9 + rb·3 + rc — pure integer CASE sums, ONE formula text in
    * both engines. */
  private[graft] val permPatternFormula: String =
    "(CASE WHEN b < a THEN 1 ELSE 0 END + CASE WHEN c < a THEN 1 ELSE 0 END) * 9" +
      " + (CASE WHEN a <= b THEN 1 ELSE 0 END + CASE WHEN c < b THEN 1 ELSE 0 END) * 3" +
      " + (CASE WHEN a <= c THEN 1 ELSE 0 END + CASE WHEN b <= c THEN 1 ELSE 0 END)" +
      " AS pid"

  /** The six valid (pattern name, id) pairs under [[permPatternFormula]]'s
    * ra·9+rb·3+rc encoding — 012 means a<b<c (ascending). */
  private[graft] val permPatterns: Seq[(String, Int)] = Seq(
    "012" -> 5, "021" -> 7, "102" -> 11, "120" -> 15, "201" -> 19, "210" -> 21)

  private[graft] val dftAFormula: String =
    s"CAST(asum AS DOUBLE) / CAST($DftQ AS DOUBLE) / CAST(n_hours AS DOUBLE) AS a_dft"
  private[graft] val dftBFormula: String =
    s"CAST(bsum AS DOUBLE) / CAST($DftQ AS DOUBLE) / CAST(n_hours AS DOUBLE) AS b_dft"
  private[graft] val dftPowerFormula: String =
    "a_dft * a_dft + b_dft * b_dft AS power"

  /** DuckDB replay of [[dftComponentsOf]] — the CTE chain from the cent
    * grid `g` to the per-(type, period) demeaned DFT components `ab`,
    * GENERATED into both the periodogram and cross-spectrum oracles from
    * this one builder (the ReplayableHash no-drift discipline). `mat`
    * adds `AS MATERIALIZED` on `ab` for the cross-spectrum twin (two
    * readers — the r9 multi-reference CTE rule) while leaving the
    * single-reader periodogram text byte-identical to its r12c3 pin. */
  private[graft] def dftAbCtes(mat: Boolean): String = {
    val m = if (mat) "MATERIALIZED " else ""
    s"""tab(period, rr, cr, sr) AS (VALUES $dftTableSql),
       |st AS (
       |  SELECT event_type, count(*) AS n_hours, sum(k) AS t
       |  FROM g GROUP BY event_type),
       |res AS (
       |  SELECT g.event_type, p.period, g.h % p.period AS rr,
       |         sum(g.k) AS sk, count(*) AS cnt
       |  FROM g CROSS JOIN (SELECT DISTINCT period FROM tab) p
       |  GROUP BY 1, 2, 3),
       |tm AS (
       |  SELECT res.event_type, res.period,
       |         max(st.n_hours) AS n_hours,
       |         CAST(sum(tab.cr * (st.n_hours * res.sk - res.cnt * st.t))
       |           AS BIGINT) AS asum,
       |         CAST(sum(tab.sr * (st.n_hours * res.sk - res.cnt * st.t))
       |           AS BIGINT) AS bsum
       |  FROM res
       |  JOIN st USING (event_type)
       |  JOIN tab ON tab.period = res.period AND tab.rr = res.rr
       |  GROUP BY 1, 2),
       |ab AS ${m}(
       |  SELECT event_type, period, n_hours, $dftAFormula, $dftBFormula
       |  FROM tm)""".stripMargin
  }

  /** The q_ts_periodogram body over any zero-filled cent grid
    * `(event_type, h, k)` — factored (r12c3) so the batch key and the
    * streaming twin's state-table read share ONE implementation
    * (StreamingPeriodogram.report; the forecastFormulas twin-body
    * rule). r15 split the per-(type, period) DFT component relation out
    * as [[dftComponentsOf]] so the cross-spectrum pairing reads the
    * identical chain. */
  private[graft] def periodogramOf(grid: DataFrame): DataFrame =
    dftComponentsOf(grid)
      .selectExpr("event_type", "period", "n_hours", "a_dft", "b_dft",
        dftPowerFormula)
      .orderBy("event_type", "period")

  /** The per-(event_type, period) demeaned DFT component relation
    * `(event_type, period BIGINT, n_hours BIGINT, a_dft, b_dft)` —
    * everything of the periodogram chain up to (and including) the
    * staged a/b readout, shared verbatim by [[periodogramOf]] and the
    * cross-spectrum pairing ([[crossSpectrumOf]]). */
  private[graft] def dftComponentsOf(grid: DataFrame): DataFrame = {
    val s = grid.sparkSession
    import s.implicits._
    val g = grid.localCheckpoint(true)
    val st = g.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum("k").as("t"))
    val res = g
      .select(col("event_type"), col("h"), col("k"),
        explode(array(DftPeriods.map(p => lit(p)): _*)).as("period"))
      .groupBy(col("event_type"), col("period"),
        expr("h % period").as("r"))
      .agg(sum("k").as("sk"), count(lit(1)).as("cnt"))
    val tab = dftTable.toDF("period", "r", "cr", "sr")
    res.join(broadcast(st), "event_type")
      .withColumn("d", expr("n_hours * sk - cnt * t"))
      // r13 (advisor note): Σ cr·d runs in BIGINT on the engine side
      // while the DuckDB twin funnels HUGEINT through a final BIGINT
      // cast — an overflow regime must fail loudly in BOTH engines, not
      // only the oracle. |Σ cr·d| ≤ period·2^16·max|d|, so the per-row
      // bound below keeps every partial sum in range; ANSI already
      // throws on the n·sk product itself. If a corpus ever trips this,
      // hi/lo-split the basis sums (the q_agg_skew rule).
      .where(coalesce(assert_true(
        expr(s"abs(d) <= ${Long.MaxValue}L div (65536L * ${DftPeriods.max})"),
        lit("periodogram guard: demeaned residue sum too large — " +
          "Σ cr·d could exceed 2^63; hi/lo-split the basis sums")),
        lit(true)))
      .join(broadcast(tab), Seq("period", "r"))
      .groupBy("event_type", "period")
      .agg(asLong(max("n_hours")).as("n_hours"),
        sum(expr("cr * d")).as("asum"),
        sum(expr("sr * d")).as("bsum"))
      .selectExpr("event_type", "CAST(period AS BIGINT) AS period",
        "n_hours", "asum", "bsum")
      .selectExpr("event_type", "period", "n_hours", dftAFormula,
        dftBFormula)
  }

  /** Cross-spectrum staged projections over the paired DFT components
    * (a_a, b_a, a_b, b_b) — co-spectrum, quadrature spectrum and the
    * per-side powers, each a fixed-order IEEE product-sum on columns
    * read once (the abtest staged discipline); ONE formula set in both
    * engines. */
  private[graft] val crossStage1: Seq[String] = Seq(
    "a_a * a_b + b_a * b_b AS re_xy",
    "b_a * a_b - a_a * b_b AS im_xy",
    "a_a * a_a + b_a * b_a AS p_a",
    "a_b * a_b + b_b * b_b AS p_b")

  /** Phase-alignment readout over (re_xy, im_xy, p_a, p_b): the cosine /
    * sine of the phase difference between the two series at the probed
    * frequency — re/im over sqrt(p_a·p_b), textually re-derived per
    * formula (the bollFormulas precedent: identical text on named
    * columns is deterministic in both engines), zero-power pairs read
    * 0 (the pacf guard convention). */
  private[graft] val crossStage2: Seq[String] = Seq(
    "CASE WHEN p_a * p_b > CAST(0 AS DOUBLE)" +
      " THEN re_xy / sqrt(p_a * p_b) ELSE CAST(0 AS DOUBLE) END AS phase_cos",
    "CASE WHEN p_a * p_b > CAST(0 AS DOUBLE)" +
      " THEN im_xy / sqrt(p_a * p_b) ELSE CAST(0 AS DOUBLE) END AS phase_sin")

  /** The q_ts_cross_spectrum body over any zero-filled cent grid — the
    * co/quadrature spectrum and phase alignment between every ordered
    * event-type pair at the probed diurnal/weekly periods. The pairing
    * self-join runs AFTER per-(type, period) aggregation, so its fan is
    * |types|²·|periods| rows over a ≤|types|·|periods|-row relation at
    * ANY corpus size (the granger/coint pair shape moved above the
    * aggregate — never corpus-quadratic); the checkpointed component
    * relation is an RDD leaf (unknown stats), so the tiny right side is
    * broadcast explicitly (the r7 rule). */
  private[graft] def crossSpectrumOf(grid: DataFrame): DataFrame = {
    val c = dftComponentsOf(grid).localCheckpoint(true)
    val ca = c.selectExpr("event_type AS type_a", "period", "n_hours",
      "a_dft AS a_a", "b_dft AS b_a")
    val cb = c.selectExpr("event_type AS type_b", "period",
      "a_dft AS a_b", "b_dft AS b_b")
    ca.join(broadcast(cb), Seq("period"))
      .where(col("type_a") < col("type_b"))
      .selectExpr(Seq("type_a", "type_b", "period", "n_hours") ++
        crossStage1: _*)
      .selectExpr(Seq("type_a", "type_b", "period", "n_hours", "re_xy",
        "im_xy", "p_a", "p_b") ++ crossStage2: _*)
      .selectExpr("type_a", "type_b", "period", "n_hours", "re_xy",
        "im_xy", "phase_cos", "phase_sin")
      .orderBy("type_a", "type_b", "period")
  }

  /** Welch segmentation for [[coherenceOf]]: 72-hour segments (three
    * diurnal cycles each; a multiple of 24 so every residue class has
    * exactly 3 members per complete segment) — 10 complete segments on
    * the fixture's fixed 720-hour span, span-bounded at any corpus
    * size. */
  private[graft] val CohSegHours = 72

  /** Per-segment DFT component readout over (asum, bsum) — the
    * dftA/dftB formulas at the segment length; ONE text per engine. */
  private[graft] val cohAFormula: String =
    s"CAST(asum AS DOUBLE) / CAST($DftQ AS DOUBLE) / CAST($CohSegHours AS DOUBLE) AS a_s"
  private[graft] val cohBFormula: String =
    s"CAST(bsum AS DOUBLE) / CAST($DftQ AS DOUBLE) / CAST($CohSegHours AS DOUBLE) AS b_s"

  /** Magnitude-squared coherence readout over the segment-summed cross
    * and auto spectra — |ΣC_xy|²/(ΣP_x·ΣP_y) ∈ [0,1] by Cauchy–Schwarz;
    * zero-power pairs read 0 (the crossStage2 guard convention). */
  private[graft] val cohFormula: String =
    "CASE WHEN sum_px * sum_py > CAST(0 AS DOUBLE)" +
      " THEN (sum_re * sum_re + sum_im * sum_im) / (sum_px * sum_py)" +
      " ELSE CAST(0 AS DOUBLE) END AS coherence"

  /** The period-24 rows of [[dftTable]] as a VALUES literal for the
    * coherence oracle (residue, cos, sin). */
  private[graft] val cohTab24Sql: String =
    dftTable.filter(_._1 == 24)
      .map { case (_, r, c, sn) => s"($r, $c, $sn)" }.mkString(", ")

  /** The q_ts_coherence body over any zero-filled cent grid — Welch
    * magnitude-squared coherence at the diurnal frequency: per-segment
    * demeaned DFT components (exact BIGINT sums, the periodogram
    * machinery at segment scope), per-segment cross/auto spectra via
    * the SHARED crossStage1 formulas, then seg-ORDERED double folds
    * (the coint ordered-fold idiom — FP addition order is part of the
    * replay contract) into |ΣC_xy|²/(ΣP_x·ΣP_y). Unlike the single-bin
    * [[crossSpectrumOf]] phase vector (unit by construction), the
    * Welch average carries magnitude: 1 only when every segment is
    * phase-aligned. Scale shape: components are span·domain-bounded,
    * the pair fan runs above the per-(type, seg) aggregate, and the
    * checkpointed component leaf broadcasts its tiny side (the
    * crossSpectrumOf conventions). */
  /** The per-(type, complete 72-hour segment) demeaned DFT component
    * relation behind [[coherenceOf]] — factored (r15) so the Welch
    * stationarity readout shares the IDENTICAL chain. */
  private[graft] def cohComponentsOf(grid: DataFrame): DataFrame = {
    val s = grid.sparkSession
    import s.implicits._
    val g = grid.selectExpr("event_type", "h", "k",
      s"h div $CohSegHours AS seg")
    val st = g.groupBy("event_type", "seg")
      .agg(count(lit(1)).as("cnt"), sum("k").as("t"))
      .where(col("cnt") === CohSegHours)
    val tab24 = dftTable.filter(_._1 == 24)
      .map { case (_, r, c, sn) => (r.toLong, c, sn) }
      .toDF("r", "cr", "sr")
    g.join(st, Seq("event_type", "seg"))
      .withColumn("d", expr(s"$CohSegHours * k - t"))
      // the periodogram overflow discipline: Σ cr·d must stay < 2^63 in
      // BOTH engines (the oracle funnels HUGEINT through a BIGINT cast)
      .where(coalesce(assert_true(
        expr(s"abs(d) <= ${Long.MaxValue}L div (65536L * $CohSegHours)"),
        lit("coherence guard: demeaned segment value too large — " +
          "Σ cr·d could exceed 2^63; hi/lo-split the basis sums")),
        lit(true)))
      .withColumn("r", expr("h % 24"))
      .join(broadcast(tab24), Seq("r"))
      .groupBy("event_type", "seg")
      .agg(sum(expr("cr * d")).as("asum"), sum(expr("sr * d")).as("bsum"))
      .selectExpr("event_type", "seg", cohAFormula, cohBFormula)
      .localCheckpoint(true)
  }

  private[graft] def coherenceOf(grid: DataFrame): DataFrame = {
    val comp = cohComponentsOf(grid)
    val xa = comp.selectExpr("event_type AS type_a", "seg",
      "a_s AS a_a", "b_s AS b_a")
    val xb = comp.selectExpr("event_type AS type_b", "seg",
      "a_s AS a_b", "b_s AS b_b")
    xa.join(broadcast(xb), Seq("seg"))
      .where(col("type_a") < col("type_b"))
      .selectExpr(Seq("type_a", "type_b", "seg") ++ crossStage1: _*)
      .groupBy("type_a", "type_b")
      .agg(asLong(count(lit(1))).as("n_seg"),
        sort_array(collect_list(struct(col("seg"), col("re_xy"),
          col("im_xy"), col("p_a"), col("p_b")))).as("xs"))
      .selectExpr("type_a", "type_b", "n_seg",
        "aggregate(xs, CAST(0 AS DOUBLE), (acc, x) -> acc + x.re_xy) AS sum_re",
        "aggregate(xs, CAST(0 AS DOUBLE), (acc, x) -> acc + x.im_xy) AS sum_im",
        "aggregate(xs, CAST(0 AS DOUBLE), (acc, x) -> acc + x.p_a) AS sum_px",
        "aggregate(xs, CAST(0 AS DOUBLE), (acc, x) -> acc + x.p_b) AS sum_py")
      .selectExpr(Seq("type_a", "type_b", "n_seg", "sum_re", "sum_im",
        "sum_px", "sum_py") :+ cohFormula: _*)
      .orderBy("type_a", "type_b")
  }

  /** Per-segment diurnal power — ONE text in both engines (the
    * crossStage1 p_a formula over the per-type component names). */
  private[graft] val welchPFormula: String =
    "a_s * a_s + b_s * b_s AS p_seg"

  /** Welch stationarity readout over (n_seg, sxl, sxxl, sy, sxy):
    * mean diurnal power and the OLS drift of per-segment power across
    * segments — seg index sums exact BIGINTs, power sums seg-ORDERED
    * folds, degenerate (single-segment) series read slope 0. */
  private[graft] val welchFormulas: Seq[String] = Seq(
    "sy / CAST(n_seg AS DOUBLE) AS mean_power",
    "CASE WHEN CAST(n_seg AS DOUBLE) * CAST(sxxl AS DOUBLE)" +
      " - CAST(sxl AS DOUBLE) * CAST(sxl AS DOUBLE) > CAST(0 AS DOUBLE)" +
      " THEN (CAST(n_seg AS DOUBLE) * sxy - CAST(sxl AS DOUBLE) * sy)" +
      " / (CAST(n_seg AS DOUBLE) * CAST(sxxl AS DOUBLE)" +
      " - CAST(sxl AS DOUBLE) * CAST(sxl AS DOUBLE))" +
      " ELSE CAST(0 AS DOUBLE) END AS drift_slope")

  /** The q_ts_welch body over any zero-filled cent grid — per-type
    * Welch-averaged diurnal power plus its across-segment OLS drift
    * (the spectral STATIONARITY readout: is the daily cycle's
    * amplitude steady, growing, or fading week over week?). Rides the
    * identical component chain as [[coherenceOf]]. */
  private[graft] def welchOf(grid: DataFrame): DataFrame =
    cohComponentsOf(grid)
      .selectExpr("event_type", "seg", welchPFormula)
      .groupBy("event_type")
      .agg(asLong(count(lit(1))).as("n_seg"),
        sum("seg").as("sxl"),
        sum(expr("seg * seg")).as("sxxl"),
        sort_array(collect_list(struct(col("seg"), col("p_seg"))))
          .as("xs"))
      .selectExpr("event_type", "n_seg", "sxl", "sxxl",
        "aggregate(xs, CAST(0 AS DOUBLE), (acc, x) -> acc + x.p_seg) AS sy",
        "aggregate(xs, CAST(0 AS DOUBLE)," +
          " (acc, x) -> acc + CAST(x.seg AS DOUBLE) * x.p_seg) AS sxy")
      .selectExpr(Seq("event_type", "n_seg", "sy", "sxy") ++
        welchFormulas: _*)
      .orderBy("event_type")

  /** DuckDB replay of [[cohComponentsOf]] — the CTE chain from the cent
    * grid `g` to the per-(type, seg) components `cb`, GENERATED into
    * the coherence and Welch oracles from one builder (the dftAbCtes
    * pattern); `mat` marks `cb` MATERIALIZED for the coherence twin's
    * two readers while the single-reader Welch text stays plain. */
  private[graft] def cohCbCtes(mat: Boolean): String = {
    val m = if (mat) "MATERIALIZED " else ""
    s"""tab24(rr, cr, sr) AS (VALUES $cohTab24Sql),
       |gs AS (
       |  SELECT event_type, h, k, h // $CohSegHours AS seg FROM g),
       |sg AS (
       |  SELECT event_type, seg, count(*) AS cnt, sum(k) AS t
       |  FROM gs GROUP BY 1, 2),
       |co AS (
       |  SELECT gs.event_type, gs.seg,
       |         CAST(sum(tab24.cr * ($CohSegHours * gs.k - sg.t))
       |           AS BIGINT) AS asum,
       |         CAST(sum(tab24.sr * ($CohSegHours * gs.k - sg.t))
       |           AS BIGINT) AS bsum
       |  FROM gs
       |  JOIN sg ON sg.event_type = gs.event_type AND sg.seg = gs.seg
       |         AND sg.cnt = $CohSegHours
       |  JOIN tab24 ON tab24.rr = gs.h % 24
       |  GROUP BY 1, 2),
       |cb AS ${m}(
       |  SELECT event_type, seg, $cohAFormula, $cohBFormula
       |  FROM co)""".stripMargin
  }

  /** Shared Bollinger projections over (k, n, s1, s2hi, s2lo) — ONE
    * formula set in both engines: window mean/σ from exact hi/lo-split
    * BIGINT moments (the q_agg_skew split), sample variance clamped at 0
    * (an all-equal window's exact-zero variance can land a few ulps
    * negative in DOUBLE — without the clamp sqrt would emit NaN), bands
    * at ±2σ, breakout as the band comparison on the cent scale. Every
    * op is an IEEE +,−,×,/ or sqrt in a fixed order; /100 surfaces cents
    * as value units last. */
  private[graft] val bollFormulas: Seq[String] = {
    val s2d = s"(CAST(s2hi AS DOUBLE) * $MomentSplit.0 + CAST(s2lo AS DOUBLE))"
    val mean = "(CAST(s1 AS DOUBLE) / n)"
    val varc = s"(($s2d - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1))"
    val sd = s"(sqrt(greatest($varc, CAST(0 AS DOUBLE))))"
    Seq(
      "CAST(k AS DOUBLE) / 100 AS value",
      s"$mean / 100 AS mean_val",
      s"$sd / 100 AS sd_val",
      s"($mean + 2 * $sd) / 100 AS upper_band",
      s"($mean - 2 * $sd) / 100 AS lower_band",
      s"(k > $mean + 2 * $sd OR k < $mean - 2 * $sd) AS breakout")
  }

  /** Shared skew/kurtosis projections over (n, s1d, s2d, s3hid, s3lod,
    * s4aad, s4abd, s4bbd) — ONE formula string evaluated by both engines
    * (Spark selectExpr and the DuckDB oracle), so the IEEE op sequence
    * cannot drift between them. The 4th moment is never computed as a
    * single k2² product (k2 ≤ ~3.2e9 at sf0.1 ⇒ k2² > 2^63, an ERROR in
    * DuckDB and a silent wrap in Spark): k2 = a·2^16 + b splits it into
    * three in-range partial sums recombined in doubles. */
  private[ops] val momentFormulas: Seq[String] = {
    val s3d = s"(s3hid * $MomentSplit.0 + s3lod)"
    val s4d = "(s4aad * 4294967296.0 + s4abd * 65536.0 + s4bbd)"
    val m = "(s1d / n)"
    val m2 = s"(s2d / n - $m * $m)"
    val m3 = s"($s3d / n - 3.0 * $m * (s2d / n) + 2.0 * $m * $m * $m)"
    val m4 = s"($s4d / n - 4.0 * $m * ($s3d / n) + 6.0 * $m * $m * (s2d / n)" +
      s" - 3.0 * $m * $m * $m * $m)"
    Seq(
      s"$m3 / ($m2 * sqrt($m2)) AS skewness",
      s"$m4 / ($m2 * $m2) - 3.0 AS excess_kurtosis")
  }

  /** Per-(event_type) exact p05/p95 cut points via [[valueAtRanks]]. The
    * k-th order statistic of `value` equals the k-th order statistic of
    * the exact scaled long `round(value*100)` (2-dec money fixture), and
    * ties share a key, so the selected VALUE is exact. Rank targets are
    * ceil(p·n) in pure integer math. */
  private[ops] def winsorCuts(ev: DataFrame,
      cacheKey: Option[(String, String)] = None): DataFrame =
    valueAtRanks(ev, "event_type", "value", nRel =>
      nRel.select(col("event_type"), explode(array(
        struct(lit("p05").as("which"), expr("(n + 19) div 20").as("rank")),
        struct(lit("p95").as("which"), expr("(19 * n + 19) div 20").as("rank"))))
        .as("t"))
        .select(col("event_type"), col("t.which").as("which"),
          col("t.rank").as("rank")), cacheKey)._1
      .groupBy("event_type")
      .agg(min(when(col("which") === "p05", col("value"))).as("p05"),
        min(when(col("which") === "p95", col("value"))).as("p95"))

  /** Exact per-group ORDER-STATISTIC selection for values exact at 2
    * decimals (`round(v*100)` is an exact long key — the fixture
    * money/quantity discipline). For each (group, which, 1-based rank
    * [, extras]) row of `mkRanks(nRel)` it returns the rank-th smallest
    * `valueCol` of that group; extras ride through to the output, and
    * `nRel` is the (grpCol, n) count relation. With a `weight` (integral,
    * ≥ 0) the rank runs over the weighted multiset: a key of weight w
    * counts w times, and a zero-weight key is never selected.
    *
    * The index is one row per distinct (group, key): its weight sum, its
    * value (functionally determined by the key; min() is the projection)
    * and `gprev`, the weight of the group's smaller keys — the
    * [[globalRowNumber]] running sum over the key, less the key's own
    * weight. Ties share a key, so key-level counts fix the order
    * statistic exactly and no row-level sort ever runs (a DENSE value
    * domain, l_quantity's 50 values, lands in one bucket of ≤ 4096 keys).
    * The index is the only full-input pass; `cacheKey` (spec name, corpus
    * digest) memoizes it per (fixture, group, value, weight) spec, so a
    * warm call is the one [[selectRanks]] filter. Values must be
    * non-null, as for globalRowNumber. */
  private[graft] def valueAtRanks(df: DataFrame, grpCol: String,
      valueCol: String, mkRanks: DataFrame => DataFrame,
      cacheKey: Option[(String, String)] = None,
      weight: Column = lit(1L)): (DataFrame, DataFrame) = {
    def build(): DataFrame = {
      val kh = df
        .groupBy(col(grpCol), round(col(valueCol) * 100).cast("long").as("_vr_key"))
        .agg(sum(weight).as("_sr_cnt"), min(col(valueCol)).as("value"))
      globalRowNumber(kh, Seq(col("_vr_key")), "_sr_cum",
          partitionBy = Seq(grpCol), weight = col("_sr_cnt"))
        .select(col(grpCol), col("value"), col("_sr_cnt"),
          (col("_sr_cum") - col("_sr_cnt")).as("_sr_gprev"))
        .localCheckpoint(true)
    }
    val idx = cacheKey.fold(build()) { case (spec, digest) =>
      IndexCache(df.sparkSession, s"rankHist/$spec", digest)(build()) }
    selectRanks(idx, grpCol, mkRanks)
  }

  /** [[valueAtRanks]] for ARBITRARY doubles, over the order-preserving
    * IEEE bit key (`double_order_key`,
    * [[graft.functions.NumericKeys.orderKey]]). A derived double (a
    * slope, a ratio) has no 2-decimal grid, and the key is INJECTIVE on
    * doubles. Four 16-bit digit levels, because the bucket count of an
    * arbitrary double is not bounded by its value domain: globalRowNumber's
    * per-bucket offsets window would hold one row per distinct value.
    * gprev(k) = #elements with key < k telescopes over the radix tree as
    * prev₁(d₁) + prev₂(d₁,d₂) + prev₃(d₁..d₃) + prev₄(d₁..d₄), each
    * prevᵢ a cumulative count over the DISTINCT values of digit dᵢ within
    * one prefix cell — ≤ 65536 rows per window partition at ANY data
    * size. Same contract, memo and [[selectRanks]] filter as
    * valueAtRanks (unweighted). */
  private[graft] def doubleValueAtRanks(df: DataFrame, grpCol: String,
      valueCol: String, mkRanks: DataFrame => DataFrame,
      cacheKey: Option[(String, String)] = None): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    def build(): DataFrame = {
      // digits: d1 is the SIGNED top 16 bits (arithmetic shift keeps the
      // long order), d2..d4 are unsigned 16-bit slices — each monotone
      // within its prefix, together a lossless radix decomposition
      val kh = df
        .withColumn("_dv_key", call_function("double_order_key", col(valueCol)))
        .groupBy(col(grpCol), col("_dv_key"))
        .agg(count(lit(1)).as("_dv_cnt"), min(col(valueCol)).as("value"))
        .withColumn("_dv_d1", expr("shiftright(_dv_key, 48)"))
        .withColumn("_dv_d2", expr("shiftright(_dv_key, 32) & 65535"))
        .withColumn("_dv_d3", expr("shiftright(_dv_key, 16) & 65535"))
        .withColumn("_dv_d4", expr("_dv_key & 65535"))
      def prevOver(h: DataFrame, part: Seq[String], digit: String,
          cnt: String, out: String): DataFrame =
        h.withColumn(out, coalesce(
          sum(cnt).over(Window.partitionBy(part.map(col): _*)
            .orderBy(digit).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      // per-level digit histograms: aggregation BEFORE each window caps
      // the partition at the 16-bit digit domain (a window straight over
      // kh partitioned by a prefix would be unbounded when values
      // concentrate in one cell — the degenerate-corpus axis)
      val h1 = prevOver(
        kh.groupBy(col(grpCol), col("_dv_d1")).agg(sum("_dv_cnt").as("_c1")),
        Seq(grpCol), "_dv_d1", "_c1", "_p1")
      val h2 = prevOver(
        kh.groupBy(col(grpCol), col("_dv_d1"), col("_dv_d2"))
          .agg(sum("_dv_cnt").as("_c2")),
        Seq(grpCol, "_dv_d1"), "_dv_d2", "_c2", "_p2")
      val h3 = prevOver(
        kh.groupBy(col(grpCol), col("_dv_d1"), col("_dv_d2"), col("_dv_d3"))
          .agg(sum("_dv_cnt").as("_c3")),
        Seq(grpCol, "_dv_d1", "_dv_d2"), "_dv_d3", "_c3", "_p3")
      // p4 lives on kh itself: keys are distinct, so within a (grp, 48-bit
      // prefix) cell the d4 values are distinct — ≤ 65536 rows/partition
      val k4 = prevOver(kh, Seq(grpCol, "_dv_d1", "_dv_d2", "_dv_d3"),
        "_dv_d4", "_dv_cnt", "_p4")
      // h1 is domain-bounded (≤ 65536 digits per group — the simhash 2^16
      // broadcast rule); h2/h3 are prefix-cell histograms, unbounded in
      // the worst case, so they join SHUFFLED on uniform digest-prefix
      // keys (never broadcast — the dup_clusters rule)
      k4.join(broadcast(h1.drop("_c1")), Seq(grpCol, "_dv_d1"))
        .join(h2.drop("_c2"), Seq(grpCol, "_dv_d1", "_dv_d2"))
        .join(h3.drop("_c3"), Seq(grpCol, "_dv_d1", "_dv_d2", "_dv_d3"))
        .select(col(grpCol), col("value"), col("_dv_cnt").as("_sr_cnt"),
          (col("_p1") + col("_p2") + col("_p3") + col("_p4")).as("_sr_gprev"))
        .localCheckpoint(true)
    }
    val idx = cacheKey.fold(build()) { case (spec, digest) =>
      IndexCache(df.sparkSession, s"doubleRankHist/$spec", digest)(build()) }
    selectRanks(idx, grpCol, mkRanks)
  }

  /** The one rank filter of both selection engines. `idx` holds one row
    * per distinct (grpCol, value) with its count `_sr_cnt` and `_sr_gprev`,
    * the count of the group's smaller values, so the rank-th smallest
    * value is the row with gprev < rank ≤ gprev + cnt (exactly one per
    * rank in 1..n). The ranks (≤ a few rows per group) broadcast onto
    * the index: the index is an RDD leaf with unknown stats, so without
    * the hint this tiny join plans as a sort-merge with two exchanges.
    * Returns (selection (grpCol, which, value [, extras]), (grpCol, n)). */
  private def selectRanks(idx: DataFrame, grpCol: String,
      mkRanks: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val nRel = idx.groupBy(grpCol).agg(sum("_sr_cnt").as("n"))
    val ranks = mkRanks(nRel)
    val extras = ranks.columns.toSeq.filterNot(Set(grpCol, "which", "rank"))
    val sel = idx.join(broadcast(ranks), grpCol)
      .where(col("_sr_gprev") < col("rank")
        && col("_sr_gprev") + col("_sr_cnt") >= col("rank"))
      .select(col(grpCol) +: col("which") +: col("value") +:
        extras.map(col): _*)
    (sel, nRel)
  }

  /** Winsorized copy of an (event_id, event_type, value) frame — the
    * q_win_winsorize primitive, exposed for [[graft.Pipelines]]. Pass a
    * corpus-content `cacheKey` to memoize the cut-point histogram across
    * invocations (fixture-backed callers); ad-hoc frames leave it None. */
  private[graft] def winsorize(ev: DataFrame,
      cacheKey: Option[(String, String)] = None): DataFrame =
    ev.join(broadcast(winsorCuts(ev, cacheKey)), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        least(greatest(col("value"), col("p05")), col("p95")).as("value_w"))


  /** The salt-14 element hash [[KmvSketch]] reads: an affine bijection of
    * the integral column `key` on [0, P), so the bottom-k set is
    * collision-free. */
  private[graft] def kmvHash(key: String): Column = {
    val (a, b) = ReplayableHash.KmvParams.head
    expr(s"($a * ($key % ${ReplayableHash.P}) + $b) % ${ReplayableHash.P}")
  }

  /** KMV sketch buffer: the `n` smallest DISTINCT hash values seen so far,
    * sorted ascending in `vals(0 until n)` (capacity [[KmvK]]).
    * `private[graft]`, not `private` — Janino-generated encoder code must
    * see the class (the round-5 interpreted-fallback trap). */
  private[graft] case class KmvBuf(var n: Int, vals: Array[Long])

  /** Typed KMV (k-minimum-values) distinct-count sketch: bounded O(k)
    * state, map-side combinable — the aggregate SHAPE a 100 TB pipeline
    * keeps when exact countDistinct's expand is too expensive. Input is
    * the salt-14 affine hash (a bijection on [0, P), so the bottom-k set
    * is collision-free); output is (sketch_size, kth_hash, est) where the
    * under-capacity branch is EXACT (= n) and the full branch reads the
    * classic (k−1)·M / h_(k) estimator as a two-op double chain (63·P is
    * an exact < 2^53 product; the division is one IEEE op — both replay
    * in DuckDB verbatim, so this sketch gets an EXACT oracle like
    * q_agg_countmin, unlike the engine-divergent HLL). */
  private[graft] object KmvSketch
      extends org.apache.spark.sql.expressions.Aggregator[Long, KmvBuf, (Long, Long, Double)] {
    private val K = KmvK
    def zero: KmvBuf = KmvBuf(0, new Array[Long](K))
    def reduce(b: KmvBuf, h: Long): KmvBuf = {
      val pos = java.util.Arrays.binarySearch(b.vals, 0, b.n, h)
      if (pos >= 0) return b // duplicate hash — KMV holds distinct values
      val ins = -(pos + 1)
      if (b.n < K) {
        System.arraycopy(b.vals, ins, b.vals, ins + 1, b.n - ins)
        b.vals(ins) = h
        b.n += 1
      } else if (ins < K) {
        System.arraycopy(b.vals, ins, b.vals, ins + 1, K - 1 - ins)
        b.vals(ins) = h
      }
      b
    }
    def merge(b1: KmvBuf, b2: KmvBuf): KmvBuf = {
      val out = new Array[Long](K)
      var i = 0; var j = 0; var n = 0
      while (n < K && (i < b1.n || j < b2.n)) {
        val take =
          if (i >= b1.n) { val v = b2.vals(j); j += 1; v }
          else if (j >= b2.n) { val v = b1.vals(i); i += 1; v }
          else if (b1.vals(i) < b2.vals(j)) { val v = b1.vals(i); i += 1; v }
          else if (b1.vals(i) > b2.vals(j)) { val v = b2.vals(j); j += 1; v }
          else { val v = b1.vals(i); i += 1; j += 1; v }
        out(n) = take; n += 1
      }
      KmvBuf(n, out)
    }
    def finish(b: KmvBuf): (Long, Long, Double) = {
      val kth = if (b.n > 0) b.vals(b.n - 1) else -1L
      val est =
        if (b.n < K) b.n.toDouble
        else (K - 1).toDouble * ReplayableHash.P.toDouble / kth.toDouble
      (b.n.toLong, kth, est)
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[KmvBuf] =
      org.apache.spark.sql.Encoders.product[KmvBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[(Long, Long, Double)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Double)]
  }

  /** Bottom-k sample capacity for [[BottomKSample]] (q_agg_approx_
    * percentile): 512 rows per group bound the buffer at 3·512 longs. */
  private[graft] val SampleK = 512

  /** Bottom-k sample buffer: the `n` smallest (pri, key, cent) triples
    * seen so far, sorted lexicographically by (pri, key, cent) in the
    * parallel arrays. `private[graft]`, not `private` — Janino-generated
    * encoder code must see the class (the round-5 trap). */
  private[graft] case class SampBuf(var n: Int, pri: Array[Long],
      key: Array[Long], cent: Array[Long])

  /** Typed bottom-k-sample aggregator (q_agg_approx_percentile): keeps
    * the [[SampleK]] lexicographically smallest (priority, key, cents)
    * triples — a DETERMINISTIC uniform sample when the priority is the
    * salt-17 affine hash of the row key (a bijection on [0, P), so the
    * sample is a pure function of the data, independent of partitioning
    * or arrival order; priority collisions break on (key, cents), and
    * fully identical triples are interchangeable). Bounded O(k) state,
    * map-side combinable — the GK-sketch SHAPE with an EXACT DuckDB
    * oracle (the KMV/count-min rule: deterministic ≠ oracle-less).
    * Output is (sample size, lower-median sample cents): the sorted
    * sample's rank-(n+1)/2 value, replayed in SQL as two windows over
    * the tiny per-group sample. */
  private[graft] object BottomKSample
      extends org.apache.spark.sql.expressions.Aggregator[(Long, Long, Long), SampBuf, (Long, Long)] {
    private val K = SampleK
    private def lt(p1: Long, k1: Long, c1: Long,
        p2: Long, k2: Long, c2: Long): Boolean =
      p1 < p2 || (p1 == p2 && (k1 < k2 || (k1 == k2 && c1 < c2)))
    private def insPos(b: SampBuf, p: Long, k: Long, c: Long): Int = {
      var lo = 0; var hi = b.n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (lt(b.pri(mid), b.key(mid), b.cent(mid), p, k, c)) lo = mid + 1
        else hi = mid
      }
      lo
    }
    def zero: SampBuf =
      SampBuf(0, new Array[Long](K), new Array[Long](K), new Array[Long](K))
    def reduce(b: SampBuf, t: (Long, Long, Long)): SampBuf = {
      val (p, k, c) = t
      if (b.n == K && !lt(p, k, c, b.pri(K - 1), b.key(K - 1), b.cent(K - 1)))
        return b
      val ins = insPos(b, p, k, c)
      val keep = math.min(b.n, K - 1)
      System.arraycopy(b.pri, ins, b.pri, ins + 1, keep - ins)
      System.arraycopy(b.key, ins, b.key, ins + 1, keep - ins)
      System.arraycopy(b.cent, ins, b.cent, ins + 1, keep - ins)
      b.pri(ins) = p; b.key(ins) = k; b.cent(ins) = c
      if (b.n < K) b.n += 1
      b
    }
    def merge(b1: SampBuf, b2: SampBuf): SampBuf = {
      val out = zero
      var i = 0; var j = 0; var n = 0
      while (n < K && (i < b1.n || j < b2.n)) {
        val takeFirst = j >= b2.n || (i < b1.n &&
          lt(b1.pri(i), b1.key(i), b1.cent(i), b2.pri(j), b2.key(j), b2.cent(j)))
        if (takeFirst) {
          out.pri(n) = b1.pri(i); out.key(n) = b1.key(i)
          out.cent(n) = b1.cent(i); i += 1
        } else {
          out.pri(n) = b2.pri(j); out.key(n) = b2.key(j)
          out.cent(n) = b2.cent(j); j += 1
        }
        n += 1
      }
      out.n = n
      out
    }
    def finish(b: SampBuf): (Long, Long) = {
      if (b.n == 0) return (0L, -1L)
      val vals = java.util.Arrays.copyOfRange(b.cent, 0, b.n)
      java.util.Arrays.sort(vals)
      (b.n.toLong, vals((b.n + 1) / 2 - 1))
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[SampBuf] =
      org.apache.spark.sql.Encoders.product[SampBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.product[(Long, Long)]
  }

  /** One referential-integrity audit row for a (child, fk, parent, pk)
    * edge — the q_profile_integrity primitive, exposed for
    * [[graft.Pipelines]] and the orphan-injection spec. ONE left-anti
    * join on the fk; the parent pre-collapses to its distinct keys. */
  private[graft] def integrityEdge(child: DataFrame, fk: String,
      parent: DataFrame, pk: String, label: String): DataFrame = {
    val keys = parent.select(col(pk).as(fk)).distinct()
    val n = child.agg(count(lit(1)).as("n_child"))
    child.select(fk).join(keys, Seq(fk), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
      .crossJoin(broadcast(n))
      .select(lit(label).as("fk_edge"), col("n_child"), col("n_orphans"),
        (col("n_orphans").cast("double") / col("n_child")).as("orphan_rate"))
  }

  /** Hour-of-day seasonal profile over an events frame (event_type, ts,
    * value) — the q_ts_seasonal primitive, exposed for
    * [[graft.Pipelines]]. See the query comment for the single-agg +
    * domain-bounded-broadcast shape. */
  private[graft] def seasonalProfile(events: DataFrame): DataFrame = {
    val hod = events
      .withColumn("hod", expr(s"(unix_micros(ts) div $HourUs) % 24"))
      .groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("svdec"))
    val tot = hod.groupBy("event_type")
      .agg(sum(col("n")).as("nt"), sum(col("svdec")).as("svtdec"))
    hod.join(broadcast(tot), "event_type")
      .withColumn("svd", col("svdec").cast("double"))
      .withColumn("svtd", col("svtdec").cast("double"))
      .selectExpr(Seq("event_type", "CAST(hod AS BIGINT) AS hod",
        "CAST(n AS BIGINT) AS n") ++ seasonalFormulas: _*)
      .orderBy("event_type", "hod")
  }

  /** Truncated-EWMA smoothing of the zero-filled hourly series of an
    * events frame — the q_ts_ewma primitive, exposed for
    * [[graft.Pipelines]]. See the query comment for the grid-bounded
    * fan-out shape and the exact-integer replay bound. */
  private[graft] def ewmaSmooth(events: DataFrame): DataFrame =
    ewmaFromGrid(hourlyGrid(events))

  /** The zero-filled hourly cent grid of an events frame, the way
    * [[hourlyCentGrid]] builds it for the fixture: the one builder behind
    * [[ewmaSmooth]] and [[graft.Pipelines.hourlyGrid]]. The aggregate is
    * checkpointed because [[gridOf]] reads its argument three times. */
  private[graft] def hourlyGrid(events: DataFrame): DataFrame =
    gridOf(hourlyAgg(events).localCheckpoint(true))

  /** The EWMA body over an already-assembled zero-filled cent grid
    * `(event_type, h, k)` — factored (r16) so the declared query rides
    * the memoized [[hourlyCentGrid]] leaf while the Pipelines primitive
    * [[ewmaSmooth]] assembles the same grid via [[hourlyGrid]] (one text,
    * zero drift — the acfRelFromGrid pattern). */
  private[graft] def ewmaFromGrid(g: DataFrame): DataFrame = {
    val pairs = g
      .withColumn("lag_h", explode(expr(
        s"sequence(CAST(0 AS BIGINT), CAST(${EwmaLags - 1} AS BIGINT))")))
      .join(g.select(col("event_type").as("et2"), col("h").as("h2"),
        col("k").as("k2")),
        col("event_type") === col("et2") && col("h2") === col("h") - col("lag_h"))
      .select(col("event_type"), col("h"),
        expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(${EwmaLags - 1} - lag_h AS INT))").as("w"),
        col("k2"))
    pairs.groupBy("event_type", "h")
      .agg(asLong(count(lit(1))).as("n_lags"),
        sum(col("w") * col("k2")).as("num"),
        sum(col("w")).as("den"))
      .selectExpr("event_type", "CAST(h AS BIGINT) AS hour_idx", "n_lags",
        ewmaFormula)
      .orderBy("event_type", "hour_idx")
  }
}
