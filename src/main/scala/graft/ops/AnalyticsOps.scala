package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics operators over `events` (SURVEY §2B, round 3): funnel
  * stage analysis and cohort retention — the warehouse-side queries a
  * product pipeline runs next to the delivery stream.
  *
  * Scale design: both are per-user sequences — every stage is a hash
  * aggregate or equi-join keyed on user_id, so work shuffles once per stage
  * on the user key and partial aggregation runs map-side. Time buckets are
  * pure integer arithmetic on epoch micros (no calendar functions), which
  * is also what keeps the DuckDB oracle bit-exact.
  */
object AnalyticsOps extends QueryModule {

  private val WeekUs = 7L * 86400L * 1000000L
  private val DayUs = 86400L * 1000000L
  private[graft] val SessionGapUs = 30L * 60L * 1000000L

  /** q_analytics_basket: minimum pair support (baskets containing both). */
  private val BasketMinSupport = 2L

  /** q_analytics_late_events / StreamingLateEvents: allowed lateness —
    * an event whose event time trails its type's watermark by MORE than
    * this is late (5 min). */
  private[graft] val LateDelayUs = 300000000L

  /** Arrival micro-batch width (10 min): the watermark advances at
    * arrival-batch boundaries — Structured Streaming's actual semantics
    * (watermarks update per micro-batch, never per record), and what
    * makes the audit scale-safe: lateness needs only per-batch maxima +
    * a prefix max over the time-span-bounded batch axis, no per-event
    * sequencing anywhere. */
  private[graft] val LateBatchUs = 600000000L

  /** Shared report body over a flagged late/on-time relation
    * `(event_type, w, cent, late)` — ONE implementation for the batch
    * query and StreamingLateEvents.report (the twin-body rule in
    * function form): per (type, hour window) totals, late/on-time
    * split, and the on-time value sum (exact cents, surfaced as DOUBLE
    * by one division). */
  private[graft] def lateReport(flagged: DataFrame): DataFrame =
    flagged
      .groupBy("event_type", "w")
      .agg(asLong(count(lit(1))).as("n_total"),
        asLong(sum(when(col("late"), 1L).otherwise(0L))).as("n_late"),
        asLong(sum(when(col("late"), 0L).otherwise(1L))).as("n_ontime"),
        sum(when(col("late"), 0L).otherwise(col("cent"))).as("ocent"))
      .select(col("event_type"), asLong(col("w")).as("wstart_hour"),
        col("n_total"), col("n_late"), col("n_ontime"),
        (col("ocent").cast("double") / lit(100)).as("ontime_value"))
      .orderBy("event_type", "wstart_hour")

  /** q_analytics_pattern: per-step window (micros) — 24 h: the fixture's
    * mean per-user inter-event gap is ~10.6 h, so a 1 h step window never
    * fires (measured 0 matches at sf0.01); one day yields real signal
    * while keeping the strict-chain semantics. */
  private val PatternStepUs = 86400000000L

  /** Shared A/B-test projections over (na, nb, s1a, s2a, s1b, s2b) — ONE
    * formula set evaluated by both engines: per-arm mean, unbiased sample
    * variance (computed from exact DECIMAL moments surfaced as DOUBLE),
    * and the Welch t statistic. sqrt and each division are IEEE-exact-
    * rounded, composed in the same order in both engines. The p-value is
    * staged separately (see [[pValueStages]], r12): a libm-free erfc
    * whose exponential is a fixed Horner Taylor + explicit squarings, so
    * even the CDF replays bit-exact. */
  private val abFormulas: Seq[String] = {
    def mean(s: String, n: String) = s"($s / $n)"
    def v(s1: String, s2: String, n: String) =
      s"(($s2 / $n - ${mean(s1, n)} * ${mean(s1, n)}) * $n / ($n - 1))"
    val va = v("s1a", "s2a", "na")
    val vb = v("s1b", "s2b", "nb")
    // Welch–Satterthwaite df and a significant-at-0.05 verdict (r11).
    // The t critical value comes from the Cornish–Fisher/Peiser expansion
    // t_crit(ν) ≈ z + (z³+z)/4ν + (5z⁵+16z³+3z)/96ν² + (3z⁷+19z⁵+17z³−15z)/384ν³
    // with z = Φ⁻¹(0.975) — a PURE rational function of df (no erf/exp,
    // which are libm-dependent and do not replay; accurate to ~1e-4 for
    // ν ≥ 10, pinned against t-table values in AnalyticsSpec). Every
    // fractional constant is CAST to DOUBLE (the round-9 DECIMAL-literal
    // rule); both engines evaluate the identical expression tree in IEEE
    // doubles, so the boolean verdict replays even at a knife edge.
    val se2a = s"($va / na)"
    val se2b = s"($vb / nb)"
    val tExpr = s"(${mean("s1a", "na")} - ${mean("s1b", "nb")})" +
      s" / sqrt($se2a + $se2b)"
    val dfExpr = s"(($se2a + $se2b) * ($se2a + $se2b)" +
      s" / ($se2a * $se2a / (na - 1) + $se2b * $se2b / (nb - 1)))"
    val z = "CAST(1.959963984540054 AS DOUBLE)"
    val tCrit =
      s"($z + ($z*$z*$z + $z) / (4 * $dfExpr)" +
        s" + (5*$z*$z*$z*$z*$z + 16*$z*$z*$z + 3*$z)" +
        s" / (96 * $dfExpr * $dfExpr)" +
        s" + (3*$z*$z*$z*$z*$z*$z*$z + 19*$z*$z*$z*$z*$z + 17*$z*$z*$z - 15*$z)" +
        s" / (384 * $dfExpr * $dfExpr * $dfExpr))"
    Seq(
      s"${mean("s1a", "na")} AS mean_a",
      s"${mean("s1b", "nb")} AS mean_b",
      s"$va AS var_a",
      s"$vb AS var_b",
      s"$tExpr AS t_stat",
      s"$dfExpr AS df",
      s"$tCrit AS t_crit_05",
      s"abs($tExpr) > $tCrit AS significant_05")
  }

  /** The shared t-critical expansion as a pure Scala function — the
    * driver-side replay AnalyticsSpec pins the SQL expansion (and the
    * t-table) against. Same operation order as the formula string. */
  private[graft] def tCrit05(df: Double): Double = {
    val z = 1.959963984540054
    z + (z*z*z + z) / (4 * df) +
      (5*z*z*z*z*z + 16*z*z*z + 3*z) / (96 * df * df) +
      (3*z*z*z*z*z*z*z + 19*z*z*z*z*z + 17*z*z*z - 15*z) / (384 * df * df * df)
  }

  /** Replayable two-sided p-value (r12): erfc(|t|/√2) — the LARGE-SAMPLE
    * normal approximation (df is in the thousands here; a Student-t CDF
    * would need the incomplete beta, which has no replayable form).
    *
    * erfc via Abramowitz–Stegun 7.1.26 (|ε| ≤ 1.5e-7): a degree-5
    * polynomial in 1/(1+px) times e^{-x²}. The exponential — the usual
    * libm blocker — is computed REPLAYABLY: u = x²/64 ≤ 1.125 (given the
    * |t| ≤ 12 clamp; beyond that p < 1e-32 and both engines emit exact 0),
    * a 14-term alternating Taylor of e^{-u} in Horner form (truncation
    * < 5e-12 on the range), then six explicit squarings for e^{-x²} =
    * T(u)^64. Every step is an IEEE +,−,×,/ or sqrt evaluated from the
    * SAME formula string in both engines, staged as named columns so no
    * subexpression is ever re-derived — bit-identical by construction.
    * Fractional constants CAST to DOUBLE (the r9 DECIMAL-literal rule). */
  private[graft] val pValueStages: Seq[(String, String)] = {
    def c(d: String) = s"CAST($d AS DOUBLE)"
    val taylor = (14 to 1 by -1).foldLeft("1") { (acc, k) =>
      if (k == 1) s"(1 - pv_u * $acc)" else s"(1 - pv_u * $acc / $k)"
    }
    val poly = Seq("-1.453152027", "1.421413741", "-0.284496736", "0.254829592")
      .foldLeft(c("1.061405429")) { (acc, a) => s"($acc * pv_tt + ${c(a)})" }
    Seq(
      "pv_u" -> "(t_stat * t_stat / 2) / 64",
      "pv_e1" -> taylor,
      "pv_e2" -> "pv_e1 * pv_e1",
      "pv_e4" -> "pv_e2 * pv_e2",
      "pv_e8" -> "pv_e4 * pv_e4",
      "pv_e16" -> "pv_e8 * pv_e8",
      "pv_e32" -> "pv_e16 * pv_e16",
      "pv_e64" -> "pv_e32 * pv_e32",
      "pv_tt" -> s"1 / (1 + ${c("0.3275911")} * (abs(t_stat) / sqrt(${c("2")})))",
      "p_value" -> (s"CASE WHEN abs(t_stat) > 12 THEN ${c("0")} " +
        s"ELSE ($poly * pv_tt) * pv_e64 END"))
  }

  /** The abtest Taylor+squaring exponential GENERALIZED (r12c3): staged
    * replayable e^(−x) for 0 ≤ x ≤ 16 — u = x/64 ≤ 0.25, the same 14-term
    * alternating Horner Taylor of e^(−u), six explicit squarings. Every
    * stage is a NAMED column in both engines (the pValueStages
    * discipline); callers chain the pairs in order and read
    * `<prefix>_e64`. q_llm_quality_logit's sigmoid is the first consumer
    * beyond the p-value. */
  private[graft] def expNegStages(
      prefix: String, xExpr: String): Seq[(String, String)] = {
    val u = s"${prefix}_u"
    val taylor = (14 to 1 by -1).foldLeft("1") { (acc, k) =>
      if (k == 1) s"(1 - $u * $acc)" else s"(1 - $u * $acc / $k)"
    }
    Seq(
      u -> s"($xExpr) / 64",
      s"${prefix}_e1" -> taylor,
      s"${prefix}_e2" -> s"${prefix}_e1 * ${prefix}_e1",
      s"${prefix}_e4" -> s"${prefix}_e2 * ${prefix}_e2",
      s"${prefix}_e8" -> s"${prefix}_e4 * ${prefix}_e4",
      s"${prefix}_e16" -> s"${prefix}_e8 * ${prefix}_e8",
      s"${prefix}_e32" -> s"${prefix}_e16 * ${prefix}_e16",
      s"${prefix}_e64" -> s"${prefix}_e32 * ${prefix}_e32")
  }

  /** Driver-side Scala twin of [[pValueStages]] (same operation order) —
    * AnalyticsSpec pins it against reference normal-CDF values. */
  private[graft] def pValueNormal(t: Double): Double = {
    val u = (t * t / 2) / 64
    var e = 1.0
    var k = 14
    while (k >= 1) { e = if (k == 1) 1 - u * e else 1 - u * e / k; k -= 1 }
    var e64 = e
    for (_ <- 0 until 6) e64 = e64 * e64
    val tt = 1 / (1 + 0.3275911 * (math.abs(t) / math.sqrt(2)))
    val poly = ((((1.061405429 * tt + -1.453152027) * tt + 1.421413741) * tt
      + -0.284496736) * tt + 0.254829592)
    if (math.abs(t) > 12) 0.0 else (poly * tt) * e64
  }

  /** Chained SQL CTEs applying [[pValueStages]] over a relation exposing
    * `t_stat`. Returns (cteText, finalRelName). */
  private[graft] def pValueCtes(fromRel: String): (String, String) = {
    val ctes = pValueStages.zipWithIndex.map { case ((nm, f), i) =>
      val src = if (i == 0) fromRel else s"pvs${i - 1}"
      s"pvs$i AS (SELECT *, $f AS $nm FROM $src)"
    }
    (ctes.mkString(",\n"), s"pvs${pValueStages.length - 1}")
  }

  /** Final abtest output columns (helper pv_* stages dropped). */
  private[graft] val abOutputCols: Seq[String] = Seq(
    "na", "nb", "mean_a", "mean_b", "var_a", "var_b",
    "t_stat", "df", "t_crit_05", "significant_05", "p_value")

  /** Shared association-rule projections over (sab, sa, sb, n) — ONE
    * formula string evaluated by both engines. At fixture scales every
    * product stays < 2^53 so the DOUBLE chain is exact; at 100 TB the
    * multiply-then-divide order degrades gracefully (doubles, not BIGINT
    * overflow — sab·n would exceed 2^63 as an integer). */
  private val basketFormulas = Seq(
    "CAST(sab AS DOUBLE) / sa AS confidence",
    "CAST(sab AS DOUBLE) * n / sa / sb AS lift")

  /** Last-touch attribution over an arbitrary events frame (user_id, ts,
    * event_id, event_type, value) — the q_analytics_attribution primitive,
    * exposed for [[graft.Pipelines]]. See the query comment for the
    * two-level merge-scan rationale. */
  private[graft] def lastTouchAttribution(events: DataFrame,
      touchTypes: Seq[String] = Seq("click", "view"),
      convType: String = "purchase",
      lookbackUs: Long = 7L * 86400L * 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tl = events
      .where(col("event_type").isin(touchTypes :+ convType: _*))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"),
        when(col("event_type") === convType, 0).otherwise(1).as("kind"))
      .withColumn("tb", expr(s"ts_us div $DayUs"))
      .withColumn("touch", when(col("kind") === 1,
        struct(col("ts_us").as("t_us"), col("event_id").as("id"),
          col("event_type").as("ch"))))
    val wLocal = Window.partitionBy("user_id", "tb")
      .orderBy(col("ts_us"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localized = tl.withColumn("local_best", max(col("touch")).over(wLocal))
    // r12: the bucket summary derives FROM the windowed branch, not a
    // second scan — aggregating max(local_best) (≡ the bucket's max touch:
    // the running max's own maximum) rather than max(touch) keeps the
    // Window un-prunable in this branch, so the (user, tb) hash agg sits
    // on the window's own partitioning (no new exchange) and the shared
    // shuffle becomes a ReusedExchange: one events scan instead of two
    val summary = localized.groupBy("user_id", "tb")
      .agg(max(col("local_best")).as("bucket_best"))
      .withColumn("cross_best", max(col("bucket_best")).over(
        Window.partitionBy("user_id").orderBy("tb")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("user_id", "tb", "cross_best")
    localized
      .where(col("kind") === 0)
      .join(summary, Seq("user_id", "tb"))
      .withColumn("best", greatest(col("local_best"), col("cross_best")))
      .select(coalesce(
          when(col("best.t_us") >= col("ts_us") - lit(lookbackUs), col("best.ch")),
          lit("none")).as("channel"),
        col("value"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conv"), dsum(col("value")).as("revenue"))
  }

  /** Per-user ordered funnel times (view_us, click_us, purchase_us) —
    * the SINGLE implementation behind q_funnel_steps and the r11b
    * stage-latency report so the two cannot drift: earliest view,
    * earliest click at/after it, earliest purchase at/after that, as
    * three chained conditional-min hash aggregates on user_id. */
  private def funnelTimes(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val t1 = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("view_us"))
    val t2 = ev.join(t1, "user_id")
      .groupBy("user_id", "view_us")
      .agg(min(when(col("event_type") === "click" && col("ts_us") >= col("view_us"),
        col("ts_us"))).as("click_us"))
    ev.join(t2, "user_id")
      .groupBy("user_id", "view_us", "click_us")
      .agg(min(when(col("event_type") === "purchase" && col("ts_us") >= col("click_us"),
        col("ts_us"))).as("purchase_us"))
  }

  /** Stage-latency report over a (stage, lat_us) frame — the SINGLE
    * implementation behind q_analytics_stage_latency and
    * [[graft.streaming.StreamingStageLatency]].report (r12 twin
    * discipline: shared body, not shared prose). See the query comment
    * for the histogram/median rationale. */
  private[graft] def stageLatencyReport(lat: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySec = lat.withColumn("sec", expr("lat_us div 1000000"))
      .groupBy("stage", "sec")
      .agg(count(lit(1)).as("c"), sum("lat_us").as("su"))
    // cum + totals as WINDOWS over the bounded histogram, then one group —
    // the StreamingQuantile.quantiles shape: no aggregate-vs-base self-join
    // (which a memory-sink view cannot resolve, the r9 Spark 4.1 gotcha)
    // and two broadcast joins fewer than the r11b form; the window
    // partitions are (stage, sec) HISTOGRAM rows, never user rows, so the
    // 2-value stage key is not a funnel. Same exact values: c/su are exact
    // longs, order-free.
    val cumW = Window.partitionBy("stage").orderBy("sec")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy("stage")
    bySec
      .withColumn("cum", sum(col("c")).over(cumW))
      .withColumn("n", sum(col("c")).over(totW))
      .withColumn("sum_us", sum(col("su")).over(totW))
      .groupBy("stage")
      .agg(asLong(max(col("n"))).as("n_users"),
        max(expr("CAST(sum_us AS DOUBLE) / n / CAST(1000000 AS DOUBLE)"))
          .as("mean_sec"),
        asLong(min(when(col("cum") >= expr("(n + 1) div 2"), col("sec"))))
          .as("p50_sec"))
      .orderBy("stage")
  }

  /** The funnelTimes CTE chain (ends with t3) — shared by the funnel and
    * stage-latency oracles, mirroring [[funnelTimes]]. */
  private val funnelTimesCte =
    """ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |t1 AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view' THEN ts_us END) AS view_us
      |  FROM ev GROUP BY user_id),
      |t2 AS (
      |  SELECT ev.user_id, t1.view_us,
      |         min(CASE WHEN ev.event_type = 'click' AND ev.ts_us >= t1.view_us
      |                  THEN ev.ts_us END) AS click_us
      |  FROM ev JOIN t1 USING (user_id) GROUP BY ev.user_id, t1.view_us),
      |t3 AS (
      |  SELECT ev.user_id, t2.view_us, t2.click_us,
      |         min(CASE WHEN ev.event_type = 'purchase' AND ev.ts_us >= t2.click_us
      |                  THEN ev.ts_us END) AS purchase_us
      |  FROM ev JOIN t2 USING (user_id) GROUP BY ev.user_id, t2.view_us, t2.click_us)""".stripMargin

  /** DuckDB replay of the gap-based session derivation (ev → l → n →
    * sn) — GENERATED into the sessionize and concurrency oracles from
    * one builder (the dftAbCtes pattern; the sessionize text stays
    * byte-identical to its pin). */
  private[ops] def sessionChainCtes: String =
    s"""ev AS (
       |  SELECT user_id, epoch_us(ts) AS t_us, event_id FROM events),
       |l AS (
       |  SELECT user_id, t_us, event_id,
       |         lag(t_us) OVER (PARTITION BY user_id
       |                         ORDER BY t_us, event_id) AS prev_us
       |  FROM ev),
       |n AS (
       |  SELECT user_id, t_us, event_id,
       |         CASE WHEN prev_us IS NULL
       |                OR t_us - prev_us > $SessionGapUs THEN 1
       |              ELSE 0 END AS is_new
       |  FROM l),
       |sn AS (
       |  SELECT user_id, t_us,
       |         CAST(sum(is_new) OVER (PARTITION BY user_id
       |           ORDER BY t_us, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           AS session_n
       |  FROM n)""".stripMargin

  /** The per-session relation (user_id, session_n, n_events, start_us,
    * end_us) behind q_analytics_sessionize — factored (r15) so the
    * concurrency profile shares the IDENTICAL gap-based session
    * derivation (the twin-body rule). */
  private[graft] def sessionsOf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    table(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_id"))
      .withColumn("is_new", when(lag("t_us", 1).over(w).isNull
          || col("t_us") - lag("t_us", 1).over(w) > lit(SessionGapUs), 1L)
        .otherwise(0L))
      .withColumn("session_n", sum("is_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_n")
      .agg(asLong(count(lit(1))).as("n_events"),
        min("t_us").as("start_us"), max("t_us").as("end_us"))
  }

  /** Per-customer order summary `(cust, last_day, freq, cents)` —
    * last order day, order count and lifetime cents (exact via the
    * round(×100) money discipline) — memoized per `orders` digest. It is
    * shared by q_analytics_rfm and q_analytics_revenue_conc, which read
    * it several times per call. */
  private[graft] def custOrdersFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "custOrders", SourceSinkOps.fixtureKey(dir, "orders.parquet")) {
      table(s, dir, "orders")
        .select(col("o_custkey").as("cust"),
          ntzMillis(col("o_orderdate")).as("ms"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("day", expr("ms div 86400000"))
        .groupBy("cust")
        .agg(asLong(max("day")).as("last_day"),
          asLong(count(lit(1))).as("freq"),
          asLong(sum("cents")).as("cents"))
        .localCheckpoint(true)
    }

  def queries: Seq[(String, Q)] = Seq(
    // Ordered funnel per user: earliest view, earliest click at/after that
    // view, earliest purchase at/after that click; stage = how deep the
    // user got. Three conditional-min hash aggregates chained on user_id.
    "q_funnel_steps" -> ((s: SparkSession, dir: String) =>
      funnelTimes(s, dir)
        .select(col("user_id"), col("view_us"), col("click_us"), col("purchase_us"),
          asLong(when(col("purchase_us").isNotNull, 3)
            .when(col("click_us").isNotNull, 2)
            .when(col("view_us").isNotNull, 1)
            .otherwise(0)).as("funnel_stage"))
        .orderBy("user_id")),

    // Funnel stage-transition latency report (r11b) — the "how long do
    // users take between stages" read next to q_funnel_steps' depth
    // census: per transition (view→click, click→purchase) the converting
    // user count, exact mean seconds, and the lower-median second. Scale:
    // latencies are ONE ROW PER CONVERTING USER (already reduced by the
    // funnel aggs); the median runs over the SECOND-quantized (stage,
    // sec) histogram — time-span-bounded, the StreamingQuantile /
    // anomaly_mad argument — via a cumulative window on that bounded agg,
    // never a per-stage window over user rows (stage is a 2-value key —
    // the mktsegment funnel trap). Replay: latencies are exact µs BIGINTs;
    // mean_sec is the same two-division double chain in both engines;
    // p50 selects an integer second by value.
    // Point-in-time feature assembly (r12): the feature-store correctness
    // primitive — for every purchase (the training label), features
    // computed from STRICTLY EARLIER events only (rows-frame ending at
    // 1 PRECEDING under the total order (ts_us, event_id) — equal-instant
    // rows cannot leak, and the tie order is deterministic in both
    // engines). Features: prior view/click counts and the µs gap since
    // the last prior click (-1 when none — an explicit sentinel beats a
    // NULL in a training matrix). One per-user ordered window pass over
    // the event scan — user_id is a HIGH-cardinality key (per-partition
    // size = one user's history, the as-of merge-scan class, not the
    // 5-value mktsegment trap); no self-join, no per-label subquery.
    "q_analytics_pit_features" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("n_prior_view",
          asLong(coalesce(sum(when(col("event_type") === "view", 1L))
            .over(w), lit(0L))))
        .withColumn("n_prior_click",
          asLong(coalesce(sum(when(col("event_type") === "click", 1L))
            .over(w), lit(0L))))
        .withColumn("last_click_us",
          max(when(col("event_type") === "click", col("ts_us"))).over(w))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("n_prior_view"), col("n_prior_click"),
          coalesce(col("ts_us") - col("last_click_us"), lit(-1L))
            .as("click_gap_us"))
        .orderBy("event_id")
    }),

    "q_analytics_stage_latency" -> ((s: SparkSession, dir: String) =>
      stageLatencyReport(funnelTimes(s, dir)
        .select(explode(array(
          struct(lit("1_view_to_click").as("stage"),
            (col("click_us") - col("view_us")).as("lat_us")),
          struct(lit("2_click_to_purchase").as("stage"),
            (col("purchase_us") - col("click_us")).as("lat_us")))).as("x"))
        .select(col("x.stage").as("stage"), col("x.lat_us").as("lat_us"))
        .where(col("lat_us").isNotNull))),

    // Late-data watermark audit (r13, the verdict item): per (event_type,
    // event-time hour window) how many events arrived LATE — behind the
    // type's watermark — versus on time, plus the on-time value total.
    // Ground truth off parquet: each event's ARRIVAL time is its event
    // time plus a deterministic ingestion jitter (salt-16 affine of
    // event_id, range [0, P) µs ≈ 16.7 min — simulated network delay);
    // arrivals group into 10-min micro-batches, the watermark is the max
    // event time over STRICTLY EARLIER batches (watermarks advance at
    // batch boundaries — Structured Streaming's real semantics, never
    // per record), and an event is late when its event time trails that
    // watermark by more than 5 min. This is exactly the drop/keep
    // decision a watermarked streaming window makes, surfaced as data;
    // StreamingLateEvents replays it statefully and
    // StreamingLateEventsSpec pins report parity. Scale: ONE hash agg to
    // the (type, arrival-batch) maxima, a prefix-max window over the
    // TIME-SPAN-BOUNDED batch axis (the hourly-grid argument), and a
    // broadcast rejoin — no per-event sequencing, no corpus-scaled
    // window partition anywhere.
    "q_analytics_late_events" -> ((s: SparkSession, dir: String) => {
      val P = graft.functions.ReplayableHash.P
      val (a, b) = graft.functions.ReplayableHash.LateJitterParams.head
      val ev = table(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          expr("unix_micros(ts)").as("tus"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cent"))
        .withColumn("ab",
          expr(s"(($a * (event_id % $P) + $b) % $P + tus) div $LateBatchUs"))
      val wOff = Window.partitionBy("event_type").orderBy("ab")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wm = ev.groupBy("event_type", "ab").agg(max("tus").as("bmax"))
        .withColumn("wmark", max("bmax").over(wOff))
        .select("event_type", "ab", "wmark")
      val flagged = ev.join(broadcast(wm), Seq("event_type", "ab"))
        .select(col("event_type"),
          expr(s"tus div ${DiagOps.HourUs}").as("w"),
          col("cent"),
          (col("wmark").isNotNull &&
            col("tus") + lit(LateDelayUs) < col("wmark")).as("late"))
      lateReport(flagged)
    }),

    // Cohort retention: cohort = integer week of a user's first event,
    // activity = distinct (user, week); cell (cohort_week, week_offset) =
    // distinct active users. Week index is epoch_us div (7 days of µs).
    "q_retention_cohort" -> ((s: SparkSession, dir: String) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"),
          expr(s"unix_micros(ts) div $WeekUs").as("week"))
      val cohort = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      val active = ev.distinct()
      active.join(cohort, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // Last-touch conversion attribution: each purchase credits the latest
    // click/view STRICTLY before it (tie-break event_id) within a 7-day
    // lookback, else the 'none' channel; report conversions + exact
    // revenue per channel. Same merge-scan discipline as q_join_asof: the
    // running best-touch struct is computed two-level — within a (user,
    // day-bucket) sort group, then across buckets on the one-row-per-
    // bucket summary — so even a single hot user never sorts its whole
    // timeline in one task. The lookback filter runs AFTER the running
    // max: the latest touch overall is also the latest inside any window
    // that contains one, so filtering it is equivalent to windowed argmax.
    // All comparisons are integer epoch-µs; struct order never reaches
    // the channel string ((t_us, id) is unique per event).
    "q_analytics_attribution" -> ((s: SparkSession, dir: String) =>
      lastTouchAttribution(table(s, dir, "events")).orderBy("channel")),

    // View-abandonment audit (r12c3): per hour-of-day, the share of VIEW
    // events NOT followed by a purchase from the same user within 1 h —
    // the cart-abandonment read next to the funnel/attribution family
    // (those ask "how far do users get"; this asks "when do they bail").
    // Forward-window matching via 1 h buckets with a 2-probe fan (the
    // q_join_band completeness argument for a one-sided window); the
    // converted-view set is (vid, tv)-DISTINCT so the probe fan can
    // never double-count a view, then BOTH sides aggregate to ≤24
    // hour-of-day rows BEFORE they meet — no view-keyed join exists at
    // all (a per-view flag join would shuffle an O(#views) relation for
    // a 24-row answer; PlanAudit caught the first draft), and the
    // bounded meet broadcasts legally. Exact integers until the one
    // rate division.
    "q_analytics_abandon" -> ((s: SparkSession, dir: String) => {
      val H = 3600000000L
      val ev = table(s, dir, "events")
        .selectExpr("user_id", "event_type", "event_id",
          "unix_micros(ts) AS t_us")
      val vw = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("vid"),
          col("t_us").as("tv"))
      val pu = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu_user"), col("t_us").as("tp"),
          expr(s"t_us div $H").as("bp"))
      val conv = vw
        .withColumn("bk", explode(expr(s"array(tv div $H, tv div $H + 1)")))
        .join(pu, col("user_id") === col("pu_user") && col("bk") === col("bp"))
        .where(col("tp") > col("tv") && col("tp") <= col("tv") + H)
        .select("vid", "tv").distinct()
      val va = vw.groupBy(expr(s"(tv div $H) % 24").as("hour_of_day"))
        .agg(asLong(count(lit(1))).as("n_views"))
      val ca = conv.groupBy(expr(s"(tv div $H) % 24").as("hour_of_day"))
        .agg(asLong(count(lit(1))).as("n_converted"))
      va.join(broadcast(ca), Seq("hour_of_day"), "left")
        .selectExpr("CAST(hour_of_day AS BIGINT) AS hour_of_day", "n_views",
          "CAST(coalesce(n_converted, 0) AS BIGINT) AS n_converted",
          "CAST(n_views - coalesce(n_converted, 0) AS DOUBLE)" +
            " / CAST(n_views AS DOUBLE) AS abandon_rate")
        .orderBy("hour_of_day")
    }),

    // Discrete-time survival table (r12c3): Kaplan–Meier life table of
    // time-to-REORDER in week buckets — per customer, each consecutive
    // pair of distinct order DAYS is an observed event at week
    // (gap div 7); the LAST order day is right-censored at the corpus'
    // max order day (the standard censoring treatment; censored subjects
    // stay in the risk set AT their censor week). Per week: events,
    // censored, at-risk (n_subj − the exclusive integer cumsum — exact
    // BIGINT, so window tree shape is irrelevant) and the discrete
    // hazard d/R as ONE exact-int division. The cumulative product-limit
    // survivor S(t) is deliberately NOT shipped (an unordered FP product
    // does not replay — the q_analytics_abtest erf precedent; hazards
    // carry the full information). Scale: per-customer lead window
    // (high-cardinality key), one week-keyed agg; only the ≤#weeks
    // (time-SPAN-bounded) life table crosses the single cum window —
    // the StreamingQuantile cum+total shape.
    "q_analytics_survival" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val d0 = table(s, dir, "orders")
        .select(col("o_custkey").as("cust"),
          ntzMillis(col("o_orderdate")).as("ms"))
        .withColumn("day", expr("ms div 86400000"))
        .select("cust", "day").distinct()
      val mx = d0.agg(asLong(max("day")).as("max_day"))
      val nxt = d0.withColumn("nday",
        lead("day", 1).over(Window.partitionBy("cust").orderBy("day")))
      val subj = nxt.crossJoin(broadcast(mx))
        .select(
          when(col("nday").isNotNull, expr("(nday - day) div 7"))
            .otherwise(expr("(max_day - day) div 7")).as("w"),
          when(col("nday").isNotNull, 1L).otherwise(0L).as("ev"))
      val tbl = subj.groupBy("w")
        .agg(asLong(sum("ev")).as("d"),
          asLong(sum(expr("1 - ev"))).as("c"))
      val tot = tbl.agg(asLong(sum(expr("d + c"))).as("n_subj"))
      tbl.crossJoin(broadcast(tot))
        .withColumn("at_risk", asLong(col("n_subj") - coalesce(
          sum(expr("d + c")).over(Window.orderBy("w")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
        .selectExpr("CAST(w AS BIGINT) AS week", "d AS n_events",
          "c AS n_censored", "at_risk",
          "CAST(d AS DOUBLE) / CAST(at_risk AS DOUBLE) AS hazard")
        .orderBy("week")
    }),

    // Gap-based sessionization: a user's events split into sessions at
    // >30-minute silences; emit per-session stats (the session relation
    // every engagement/attribution report joins against). Both window
    // passes (lag + running new-session count) ride ONE per-user sort —
    // user_id is the high-cardinality event key, not the low-cardinality
    // window trap — and the rollup is a hash agg on (user_id, session_n).
    // Pure integer epoch-µs arithmetic end to end.
    "q_analytics_sessionize" -> ((s: SparkSession, dir: String) =>
      sessionsOf(s, dir)
        .select(col("user_id"), col("session_n"), col("n_events"),
          col("start_us"), col("end_us"),
          (col("end_us") - col("start_us")).as("duration_us"))
        .orderBy("user_id", "session_n")),

    // Concurrency profile (r15): per hour, the MAXIMUM number of
    // simultaneously-active sessions and the count of active minutes —
    // the capacity-planning readout over the sessionized stream. Sweep
    // line at DECLARED minute granularity: ±1 deltas at session
    // start/end minutes aggregate map-side to a SPAN-BOUNDED net-delta
    // relation (≤ span minutes at ANY corpus size), zero-filled like
    // the hourly grid, then ONE exact-integer running sum over the
    // bounded minute axis (the late_events span-bounded prefix
    // precedent — a global window over a corpus-scaled stream would be
    // the single-partition trap; over the bounded grid it is legal).
    "q_analytics_concurrency" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val sess = sessionsOf(s, dir)
      val d0 = sess.selectExpr("start_us div 60000000 AS m",
          "CAST(1 AS BIGINT) AS d")
        .union(sess.selectExpr("end_us div 60000000 + 1 AS m",
          "CAST(-1 AS BIGINT) AS d"))
        .groupBy("m").agg(sum("d").as("net"))
      val rng = d0.agg(min("m").as("m0"), max("m").as("m1"))
      val grid = rng.selectExpr("explode(sequence(m0, m1)) AS m")
      val w = Window.orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(d0, Seq("m"), "left")
        .selectExpr("m", "coalesce(net, CAST(0 AS BIGINT)) AS net")
        .withColumn("cur", sum("net").over(w))
        .selectExpr("m div 60 AS hour", "cur")
        .groupBy("hour")
        .agg(asLong(max("cur")).as("max_concurrency"),
          asLong(sum(expr("CASE WHEN cur > 0 THEN 1 ELSE 0 END")))
            .as("n_active_min"))
        .orderBy("hour")
    }),

    // Market-basket association rules over order baskets: the top-25 part
    // pairs by lift (with support + confidence) among pairs co-purchased in
    // ≥ 2 orders — the co-occurrence mining pass of a recommendations /
    // curriculum pipeline. Scale: the pair generation is a self-join of the
    // DISTINCT (order, part) relation on the ORDER key — the equi bucket is
    // the basket, whose size is bounded by order width (≤ 13 distinct parts
    // on the fixture), never per-part density, so per-key work is O(width²)
    // at any corpus size (the SCALING.md pairing rule). Support rejoins are
    // plain shuffled joins on the part key (O(#parts) rows — deliberately
    // NOT broadcast, the dup_clusters rule); the order count is a broadcast
    // 1-row relation. Lift/confidence evaluate via ONE shared formula
    // string, and the top-25 rides TakeOrderedAndProject with a unique
    // (lift, part_a, part_b) tie-broken total order.
    "q_analytics_basket" -> ((s: SparkSession, dir: String) =>
      basketRules(table(s, dir, "lineitem"),
        cacheKey = Some(SourceSinkOps.fixtureKey(dir, "lineitem.parquet")))),

    // Deterministic A/B-test readout: users hash into two arms
    // (ReplayableHash salt 12 — reproducible assignment, the split_assign
    // discipline), the metric is purchase value, and the report is one
    // row of per-arm counts/means/variances plus the Welch t statistic.
    // Scale: arm assignment is scan-side integer arithmetic; the whole
    // corpus collapses in ONE map-side-combinable hash agg to two rows,
    // pivoted into a single row with conditional max (no FP-order
    // hazard — each conditional picks exactly one partial). Moments
    // accumulate as exact DECIMAL and surface as DOUBLE once (§7.4).
    "q_analytics_abtest" -> ((s: SparkSession, dir: String) => {
      val (a, b) = graft.functions.ReplayableHash.AbTestParams.head
      val P = graft.functions.ReplayableHash.P
      val dec = col("value").cast("decimal(18,4)")
      table(s, dir, "events")
        .where(col("event_type") === "purchase")
        .withColumn("arm", expr(s"(($a * (user_id % $P) + $b) % $P) % 2"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n"),
          sum(dec).cast("double").as("s1"),
          sum(dec * dec).cast("double").as("s2"))
        .agg(
          max(when(col("arm") === 0, col("n"))).as("na"),
          max(when(col("arm") === 1, col("n"))).as("nb"),
          max(when(col("arm") === 0, col("s1"))).as("s1a"),
          max(when(col("arm") === 0, col("s2"))).as("s2a"),
          max(when(col("arm") === 1, col("s1"))).as("s1b"),
          max(when(col("arm") === 1, col("s2"))).as("s2b"))
        .selectExpr(Seq("na", "nb") ++ abFormulas: _*)
        .transform { base =>
          pValueStages.foldLeft(base) { case (d, (nm, f)) =>
            d.withColumn(nm, expr(f))
          }
        }
        .selectExpr(abOutputCols: _*)
    }),

    // Sequential-pattern detection: per day, how many purchases complete
    // the strict view→click→purchase chain with each step at most 24 hours
    // after the previous — the conversion-path health report next to the
    // funnel (which tracks EARLIEST chains; this one uses LAST-TOUCH
    // semantics: the most recent strictly-prior click, and that click's
    // most recent strictly-prior view — the streaming-friendly reading,
    // same rule as attribution). Two struct-max running-best windows ride
    // ONE per-user sort (same partition/order spec); the (ts, kind, id)
    // order makes prior-row sets deterministic and the strict `<` guards
    // exclude equal-instant steps (the r8 attribution tie rule). Struct
    // max compares field-by-field with the unique (t, id) prefix, so the
    // carried view timestamp never influences ordering.
    "q_analytics_pattern" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val tl = table(s, dir, "events")
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_id"), col("event_type"),
          when(col("event_type") === "view", 0)
            .when(col("event_type") === "click", 1).otherwise(2).as("kind"))
      val prior = Window.partitionBy("user_id")
        .orderBy(col("t"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val withV = tl.withColumn("vb",
        max(when(col("kind") === 0, struct(col("t").as("vt"),
          col("event_id").as("vid")))).over(prior))
      val withC = withV.withColumn("cb",
        max(when(col("kind") === 1, struct(col("t").as("ct"),
          col("event_id").as("cid"), col("vb.vt").as("vt")))).over(prior))
      withC.where(col("kind") === 2)
        .withColumn("matched",
          col("cb").isNotNull &&
            col("cb.ct") < col("t") && col("cb.ct") >= col("t") - lit(PatternStepUs) &&
            col("cb.vt").isNotNull &&
            col("cb.vt") < col("cb.ct") && col("cb.vt") >= col("cb.ct") - lit(PatternStepUs))
        .withColumn("day", expr(s"t div $DayUs"))
        .groupBy("day")
        .agg(asLong(count(lit(1))).as("n_purchases"),
          asLong(sum(when(col("matched"), 1L).otherwise(0L))).as("n_matched"))
        .select(asLong(col("day")).as("day"), col("n_purchases"), col("n_matched"),
          (col("n_matched").cast("double") / col("n_purchases")).as("match_rate"))
        .orderBy("day")
    }),

    // First-order Markov transition matrix over per-user event sequences
    // (r10) — the behavior model a product pipeline reads next to the
    // funnel: P(next event type | current), from consecutive-pair counts.
    // ONE per-user sort (high-cardinality partitions — the analytics
    // window discipline), unique (t, event_id) tie-break so the chain is
    // deterministic, then a hash agg to ≤ |types|² rows; the per-from
    // totals derive FROM that relation (sums of partials, no second
    // scan) and broadcast back (event_type is a domain-bounded enum —
    // the seasonal-profile rule, never O(#rows)). One IEEE division.
    "q_analytics_markov" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val tl = table(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val pairs = tl
        .withColumn("to_type", lead("event_type", 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(asLong(count(lit(1))).as("n"))
      val totals = pairs.groupBy("from_type")
        .agg(asLong(sum("n")).as("n_from"))
      pairs.join(broadcast(totals), "from_type")
        .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
          (col("n").cast("double") / col("n_from")).as("p"))
        .orderBy("from_type", "to_type")
    }),

    // Revenue-concentration report (r10) — the Pareto/"whale" read next
    // to RFM: how much of lifetime revenue sits above the p50/p90/p99
    // per-customer spend cuts. The cuts are EXACT order statistics of
    // per-customer cents selected via DiagOps.valueAtRanks (single
    // constant group; its index is one row per distinct spend, memoized
    // per orders digest — never a per-group sort; an exact Gini would
    // need a corpus-sized ordered prefix sum, so the operator reports
    // threshold shares, the semantics that stay exact AND scale-safe).
    // Census = one agg over the memoized custOrdersFor relation with
    // BIGINT conditional sums; shares are single IEEE divisions of exact
    // values.
    "q_analytics_revenue_conc" -> ((s: SparkSession, dir: String) => {
      val cust = custOrdersFor(s, dir)
        .select(col("cust"), col("cents"), lit("all").as("grp"),
          (col("cents") / lit(100.0)).as("spend"))
      val (cuts, _) = DiagOps.valueAtRanks(cust, "grp", "spend", nRel =>
        nRel.select(col("grp"), explode(array(
          struct(lit("p50").as("which"), expr("(n + 1) div 2").as("rank")),
          struct(lit("p90").as("which"), expr("(9 * n + 9) div 10").as("rank")),
          struct(lit("p99").as("which"), expr("(99 * n + 99) div 100").as("rank"))))
          .as("t"))
          .select(col("grp"), col("t.which").as("which"),
            col("t.rank").as("rank")),
        Some("revconc-orders" -> SourceSinkOps.fixtureKey(dir, "orders.parquet")))
      val cutRel = cuts.groupBy("grp")
        .agg(min(when(col("which") === "p50", col("value"))).as("p50_spend"),
          min(when(col("which") === "p90", col("value"))).as("p90_spend"),
          min(when(col("which") === "p99", col("value"))).as("p99_spend"))
        .withColumn("c90", expr("CAST(round(p90_spend * 100) AS BIGINT)"))
        .withColumn("c99", expr("CAST(round(p99_spend * 100) AS BIGINT)"))
      cust.join(broadcast(cutRel), "grp")
        .groupBy("grp")
        .agg(asLong(count(lit(1))).as("n_cust"),
          asLong(sum("cents")).as("tot"),
          min("p50_spend").as("p50_spend"),
          min("p90_spend").as("p90_spend"),
          min("p99_spend").as("p99_spend"),
          asLong(sum(when(col("cents") > col("c90"), 1L).otherwise(0L)))
            .as("n_above_p90"),
          asLong(sum(when(col("cents") > col("c99"), 1L).otherwise(0L)))
            .as("n_above_p99"),
          asLong(sum(when(col("cents") > col("c90"), col("cents"))
            .otherwise(0L))).as("ab90"),
          asLong(sum(when(col("cents") > col("c99"), col("cents"))
            .otherwise(0L))).as("ab99"))
        .selectExpr("n_cust",
          "CAST(tot AS DOUBLE) / 100 AS total_rev",
          "p50_spend", "p90_spend", "p99_spend",
          "n_above_p90", "n_above_p99",
          "CAST(ab90 AS DOUBLE) / tot AS share_above_p90",
          "CAST(ab99 AS DOUBLE) / tot AS share_above_p99")
    }),

    // RFM customer segmentation — the classic CRM cube: per customer
    // recency (days since last order vs the corpus max date), frequency
    // (#orders), monetary (lifetime cents, exact via the round(×100)
    // money discipline), each cut into quintiles by DETERMINISTIC global
    // rank: [[globalRowNumber]] over the total order (metric, cust) per
    // metric id with 65536-wide cust buckets, so per-bucket sorts stay
    // ≤64k rows even when one metric value dominates, e.g. the freq=1
    // heap. The offsets relation is ≤ #distinct-metric + #cust/65536 rows
    // — recency and freq are value-domain-bounded, monetary ranks over
    // whole DOLLARS (cents div 100) to keep the distinct domain in the
    // same class.
    // Output: ≤125 (r,f,m) segments with exact counts and one BIGINT→
    // DOUBLE cast for the money total. Scores: 5 = best (most recent /
    // most frequent / highest spend).
    "q_analytics_rfm" -> ((s: SparkSession, dir: String) => {
      val base = custOrdersFor(s, dir) // totals + stacked ranks ×2 + cents join
      val tot = base.agg(asLong(max("last_day")).as("max_day"),
        asLong(count(lit(1))).as("n_cust"))
      // exact global rank of (metric, cust) per metric id → quintile 1..5
      // (ascending metric). The three metrics ride ONE stacked pipeline
      // (metric id as the partition) instead of three branch pipelines —
      // same ranks, a third of the stages (measured 1.6 s → the
      // basket-class floor at sf0.1 with the branched shape).
      val m3 = base.crossJoin(broadcast(tot))
        .selectExpr("cust", "n_cust",
          "stack(3, 0L, max_day - last_day, 1L, freq, 2L, cents div 100)" +
            " AS (mid, metric)")
      val quints = globalRowNumber(m3, Seq(col("metric"), col("cust")), "_r",
          partitionBy = Seq("mid"), bucketWidth = 65536L)
        .withColumn("q", expr("(_r - 1) * 5 div n_cust + 1"))
        .groupBy("cust")
        .agg(max(when(col("mid") === 0, col("q"))).as("rq"),
          max(when(col("mid") === 1, col("q"))).as("fq"),
          max(when(col("mid") === 2, col("q"))).as("mq"))
      base.select("cust", "cents").join(quints, "cust")
        .select(col("cust"), col("cents"),
          asLong(lit(6) - col("rq")).as("r_score"),
          asLong(col("fq")).as("f_score"),
          asLong(col("mq")).as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(asLong(count(lit(1))).as("n_customers"),
          (asLong(sum("cents")).cast("double") / 100).as("monetary_total"))
        .orderBy("r_score", "f_score", "m_score")
    }),

    // Cohort lifetime value (r11): cohort = a user's first-purchase week;
    // cell (cohort_week, week_offset) = buyers + exact revenue; cumulative
    // LTV per cohort member via a running DECIMAL sum. Scale: both cohort
    // assignment and cells are user/week hash aggs (map-side combinable);
    // the cumulative window runs over the AGGREGATED cell relation
    // (≤ weeks² rows — time-domain-bounded, not corpus-sized) and cohort
    // sizes are a broadcast ≤#weeks relation. Money: revenue accumulates
    // in DECIMAL(18,4) through BOTH the cell agg and the running window
    // (an outer sum over DOUBLE partials would be FP-order-dependent) and
    // surfaces as DOUBLE once; ltv_per_user is ONE double/long division.
    "q_analytics_ltv" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id"),
          expr(s"unix_micros(ts) div $WeekUs").as("week"), col("value"))
      val fw = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      val sizes = fw.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
      val cells = ev.join(fw, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(asLong(count_distinct(col("user_id"))).as("n_buyers"),
          sum(col("value").cast("decimal(18,4)")).as("rev_dec"))
      val w = Window.partitionBy("cohort_week").orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum_dec", sum(col("rev_dec")).over(w))
        .join(broadcast(sizes), "cohort_week")
        .select(col("cohort_week"), col("week_offset"), col("n_buyers"),
          col("rev_dec").cast("double").as("revenue"),
          col("cum_dec").cast("double").as("cum_revenue"),
          (col("cum_dec").cast("double") / col("cohort_size")).as("ltv_per_user"))
        .orderBy("cohort_week", "week_offset")
    })
  )

  /** Association-rule mining over (l_orderkey, l_partkey) lines — the
    * q_analytics_basket primitive, exposed for [[graft.Pipelines]]. See
    * the query comment for the basket-width pairing bound and the
    * never-broadcast support-rejoin rationale. */
  /** Session-lifetime memo of the distinct (order, part) basket relation
    * per fixture content digest — the maintained-index pattern
    * (CLAUDE.md): the distinct shuffle is the dominant per-call cost and
    * feeds four consumers. */
  private[graft] def basketsFor(lines: DataFrame,
      cacheKey: Option[String]): DataFrame = {
    def build(): DataFrame = lines
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .localCheckpoint(true) // feeds nOrders + supp + BOTH pair sides
    cacheKey.fold(build())(k => IndexCache(lines.sparkSession, "baskets", k)(build()))
  }

  private[graft] def basketRules(lines: DataFrame,
      minSupport: Long = BasketMinSupport, topK: Int = 25,
      cacheKey: Option[String] = None): DataFrame = {
    val baskets = basketsFor(lines, cacheKey)
    val nOrders = baskets.agg(count_distinct(col("ok")).as("n"))
    val supp = baskets.groupBy("pk").agg(count(lit(1)).as("s"))
    // r16 (verdict item 3): pair generation measured at ×100 in BOTH
    // shapes — order-key self-join vs basket-collect + HOF combination
    // fan-out (the r14 copurchase question, re-asked at target scale
    // for THIS operator). See OPTIMIZATION_r16.md §basket for numbers;
    // the winner ships. Basket width ≤ 13 bounds the collect and the
    // per-basket fan (≤ 78 pairs), so the HOF shape is scale-safe.
    val pairs = baskets
      .groupBy("ok").agg(sort_array(collect_list(col("pk"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps) - i - 1),
          |            y -> named_struct('pk', x, 'pk2', y))))""".stripMargin))
        .as("pr"))
      .select(col("pr.pk"), col("pr.pk2"))
      .groupBy("pk", "pk2").agg(count(lit(1)).as("sab"))
      .where(col("sab") >= minSupport)
    pairs
      .join(supp.select(col("pk"), col("s").as("sa")), "pk")
      .join(supp.select(col("pk").as("pk2"), col("s").as("sb")), "pk2")
      .crossJoin(broadcast(nOrders))
      .selectExpr(Seq("pk AS part_a", "pk2 AS part_b", "sab AS supp_pair",
        "sa AS supp_a", "sb AS supp_b") ++ basketFormulas: _*)
      .orderBy(desc("lift"), asc("part_a"), asc("part_b"))
      .limit(topK)
  }

  def oracle: Seq[(String, String)] = Seq(
    "q_analytics_late_events" -> {
      val P = graft.functions.ReplayableHash.P
      val (a, b) = graft.functions.ReplayableHash.LateJitterParams.head
      s"""WITH ev AS (
         |  SELECT event_type, epoch_us(ts) AS tus,
         |         CAST(round(value * 100) AS BIGINT) AS cent,
         |         (($a * (event_id % $P) + $b) % $P + epoch_us(ts)) // $LateBatchUs AS ab,
         |         epoch_us(ts) // ${DiagOps.HourUs} AS w
         |  FROM events),
         |bt AS (
         |  SELECT event_type, ab, max(tus) AS bmax
         |  FROM ev GROUP BY event_type, ab),
         |wm AS (
         |  SELECT event_type, ab,
         |         max(bmax) OVER (PARTITION BY event_type ORDER BY ab
         |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wmark
         |  FROM bt),
         |f AS (
         |  SELECT ev.event_type, ev.w, ev.cent,
         |         CASE WHEN wm.wmark IS NOT NULL AND ev.tus + $LateDelayUs < wm.wmark
         |              THEN 1 ELSE 0 END AS late
         |  FROM ev JOIN wm ON ev.event_type = wm.event_type AND ev.ab = wm.ab)
         |SELECT event_type, CAST(w AS BIGINT) AS wstart_hour,
         |       CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(sum(late) AS BIGINT) AS n_late,
         |       CAST(count(*) - sum(late) AS BIGINT) AS n_ontime,
         |       CAST(sum(CASE WHEN late = 0 THEN cent ELSE 0 END) AS DOUBLE) / 100 AS ontime_value
         |FROM f GROUP BY event_type, w
         |ORDER BY event_type, wstart_hour""".stripMargin
    },

    "q_analytics_pit_features" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |f AS (
        |  SELECT event_id, user_id, event_type, ts_us,
        |         CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END)
        |           OVER w, 0) AS BIGINT) AS n_prior_view,
        |         CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END)
        |           OVER w, 0) AS BIGINT) AS n_prior_click,
        |         max(CASE WHEN event_type = 'click' THEN ts_us END)
        |           OVER w AS last_click_us
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, ts_us, n_prior_view, n_prior_click,
        |       coalesce(ts_us - last_click_us, -1) AS click_gap_us
        |FROM f WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q_funnel_steps" ->
      s"""WITH $funnelTimesCte
         |SELECT user_id, view_us, click_us, purchase_us,
         |       CAST(CASE WHEN purchase_us IS NOT NULL THEN 3
         |                 WHEN click_us IS NOT NULL THEN 2
         |                 WHEN view_us IS NOT NULL THEN 1
         |                 ELSE 0 END AS BIGINT) AS funnel_stage
         |FROM t3 ORDER BY user_id""".stripMargin,

    // the latency rows are one per converting user; the median selects an
    // integer second by value over the (stage, sec) histogram; the mean
    // is the identical two-division double chain (bySec and tot are each
    // read twice -> MATERIALIZED)
    "q_analytics_stage_latency" ->
      s"""WITH $funnelTimesCte,
         |lat AS (
         |  SELECT stage, lat_us FROM (
         |    SELECT '1_view_to_click' AS stage, click_us - view_us AS lat_us FROM t3
         |    UNION ALL
         |    SELECT '2_click_to_purchase', purchase_us - click_us FROM t3)
         |  WHERE lat_us IS NOT NULL),
         |bysec AS MATERIALIZED (
         |  SELECT stage, lat_us // 1000000 AS sec, count(*) AS c, sum(lat_us) AS su
         |  FROM lat GROUP BY stage, sec),
         |tot AS MATERIALIZED (
         |  SELECT stage, CAST(sum(c) AS BIGINT) AS n, CAST(sum(su) AS BIGINT) AS sum_us
         |  FROM bysec GROUP BY stage),
         |med AS (
         |  SELECT b.stage, min(CASE WHEN cum >= (n + 1) // 2 THEN sec END) AS p50_sec
         |  FROM (SELECT stage, sec,
         |               sum(c) OVER (PARTITION BY stage ORDER BY sec
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |        FROM bysec) b
         |  JOIN tot USING (stage)
         |  GROUP BY b.stage)
         |SELECT stage, n AS n_users,
         |       CAST(sum_us AS DOUBLE) / n / CAST(1000000 AS DOUBLE) AS mean_sec,
         |       CAST(p50_sec AS BIGINT) AS p50_sec
         |FROM tot JOIN med USING (stage)
         |ORDER BY stage""".stripMargin,

    "q_retention_cohort" ->
      s"""WITH ev AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // $WeekUs AS week FROM events),
         |cohort AS (
         |  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id)
         |SELECT cohort_week, ev.week - cohort_week AS week_offset,
         |       count(DISTINCT ev.user_id) AS n_users
         |FROM ev JOIN cohort USING (user_id)
         |GROUP BY cohort_week, week_offset
         |ORDER BY cohort_week, week_offset""".stripMargin,

    // The oracle computes the same running best-touch with one plain
    // window (DuckDB struct max orders field-by-field, same as Spark);
    // the engine's two-level bucketed shape is a pure execution choice.
    "q_analytics_attribution" ->
      s"""WITH tl AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value,
         |         CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind
         |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
         |w AS (
         |  SELECT *,
         |         max(CASE WHEN kind = 1
         |                  THEN {'t_us': ts_us, 'id': event_id, 'ch': event_type} END)
         |         OVER (PARTITION BY user_id ORDER BY ts_us, kind, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best
         |  FROM tl)
         |SELECT COALESCE(CASE WHEN best.t_us >= ts_us - ${7L * DayUs}
         |                     THEN best.ch END, 'none') AS channel,
         |       count(*) AS n_conv,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |FROM w WHERE kind = 0 GROUP BY channel ORDER BY channel""".stripMargin,

    "q_analytics_abandon" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS t_us
        |  FROM events),
        |vw AS (
        |  SELECT user_id, event_id AS vid, t_us AS tv
        |  FROM ev WHERE event_type = 'view'),
        |pu AS (
        |  SELECT user_id, t_us AS tp FROM ev WHERE event_type = 'purchase'),
        |cv AS (
        |  SELECT DISTINCT vw.vid
        |  FROM vw JOIN pu ON pu.user_id = vw.user_id
        |  WHERE pu.tp > vw.tv AND pu.tp <= vw.tv + 3600000000),
        |fl AS (
        |  SELECT vw.tv, CASE WHEN cv.vid IS NOT NULL THEN 1 ELSE 0 END AS conv
        |  FROM vw LEFT JOIN cv ON cv.vid = vw.vid)
        |SELECT CAST((tv // 3600000000) % 24 AS BIGINT) AS hour_of_day,
        |       CAST(count(*) AS BIGINT) AS n_views,
        |       CAST(sum(conv) AS BIGINT) AS n_converted,
        |       CAST(count(*) - sum(conv) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         AS abandon_rate
        |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_analytics_survival" ->
      """WITH d0 AS (
        |  SELECT DISTINCT o_custkey AS cust,
        |         epoch_ms(o_orderdate) // 86400000 AS day
        |  FROM orders),
        |mx AS (SELECT max(day) AS max_day FROM d0),
        |nx AS (
        |  SELECT cust, day,
        |         lead(day, 1) OVER (PARTITION BY cust ORDER BY day) AS nday
        |  FROM d0),
        |subj AS (
        |  SELECT CASE WHEN nday IS NOT NULL THEN (nday - day) // 7
        |              ELSE (mx.max_day - day) // 7 END AS w,
        |         CASE WHEN nday IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM nx CROSS JOIN mx),
        |tbl AS (
        |  SELECT w, CAST(sum(ev) AS BIGINT) AS d,
        |         CAST(sum(1 - ev) AS BIGINT) AS c
        |  FROM subj GROUP BY w),
        |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_subj FROM tbl),
        |rk AS (
        |  SELECT w, d, c,
        |         CAST(n_subj - COALESCE(sum(d + c) OVER (ORDER BY w
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS at_risk
        |  FROM tbl CROSS JOIN tot)
        |SELECT CAST(w AS BIGINT) AS week, d AS n_events, c AS n_censored,
        |       at_risk, CAST(d AS DOUBLE) / CAST(at_risk AS DOUBLE) AS hazard
        |FROM rk ORDER BY week""".stripMargin,

    "q_analytics_sessionize" ->
      s"""WITH $sessionChainCtes
         |SELECT user_id, session_n, count(*) AS n_events,
         |       min(t_us) AS start_us, max(t_us) AS end_us,
         |       max(t_us) - min(t_us) AS duration_us
         |FROM sn GROUP BY user_id, session_n
         |ORDER BY user_id, session_n""".stripMargin,

    "q_analytics_concurrency" ->
      s"""WITH $sessionChainCtes,
         |sess AS MATERIALIZED (
         |  SELECT user_id, session_n,
         |         min(t_us) AS start_us, max(t_us) AS end_us
         |  FROM sn GROUP BY user_id, session_n),
         |d0 AS MATERIALIZED (
         |  SELECT m, CAST(sum(d) AS BIGINT) AS net FROM (
         |    SELECT start_us // 60000000 AS m, CAST(1 AS BIGINT) AS d
         |    FROM sess
         |    UNION ALL
         |    SELECT end_us // 60000000 + 1 AS m, CAST(-1 AS BIGINT) AS d
         |    FROM sess)
         |  GROUP BY m),
         |rng AS (SELECT min(m) AS m0, max(m) AS m1 FROM d0),
         |grid AS (
         |  SELECT unnest(generate_series(rng.m0, rng.m1)) AS m FROM rng),
         |filled AS (
         |  SELECT grid.m, COALESCE(d0.net, CAST(0 AS BIGINT)) AS net
         |  FROM grid LEFT JOIN d0 USING (m)),
         |run AS (
         |  SELECT m, CAST(sum(net) OVER (ORDER BY m
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cur
         |  FROM filled)
         |SELECT m // 60 AS hour,
         |       CAST(max(cur) AS BIGINT) AS max_concurrency,
         |       CAST(sum(CASE WHEN cur > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_active_min
         |FROM run GROUP BY 1 ORDER BY hour""".stripMargin,

    "q_analytics_basket" ->
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |nq AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM b),
         |s AS MATERIALIZED (
         |  SELECT pk, CAST(count(*) AS BIGINT) AS s FROM b GROUP BY pk),
         |p AS (
         |  SELECT a.pk AS pk, b2.pk AS pk2, CAST(count(*) AS BIGINT) AS sab
         |  FROM b a JOIN b b2 ON b2.ok = a.ok AND a.pk < b2.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport),
         |j AS (
         |  SELECT p.pk AS part_a, p.pk2 AS part_b, p.sab AS sab,
         |         sa.s AS sa, sb.s AS sb, nq.n AS n
         |  FROM p JOIN s sa ON sa.pk = p.pk
         |         JOIN s sb ON sb.pk = p.pk2 CROSS JOIN nq)
         |SELECT part_a, part_b, sab AS supp_pair, sa AS supp_a, sb AS supp_b,
         |       ${basketFormulas.mkString(",\n       ")}
         |FROM j ORDER BY lift DESC, part_a, part_b LIMIT 25""".stripMargin,

    "q_analytics_abtest" -> {
      val (a, b) = graft.functions.ReplayableHash.AbTestParams.head
      val P = graft.functions.ReplayableHash.P
      s"""WITH e AS (
         |  SELECT (($a * (user_id % $P) + $b) % $P) % 2 AS arm, value
         |  FROM events WHERE event_type = 'purchase'),
         |st AS (
         |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
         |         CAST(sum(CAST(value AS DECIMAL(18,4))
         |                   * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s2
         |  FROM e GROUP BY arm),
         |pv AS (
         |  SELECT max(CASE WHEN arm = 0 THEN n END) AS na,
         |         max(CASE WHEN arm = 1 THEN n END) AS nb,
         |         max(CASE WHEN arm = 0 THEN s1 END) AS s1a,
         |         max(CASE WHEN arm = 0 THEN s2 END) AS s2a,
         |         max(CASE WHEN arm = 1 THEN s1 END) AS s1b,
         |         max(CASE WHEN arm = 1 THEN s2 END) AS s2b
         |  FROM st),
         |res AS (
         |  SELECT na, nb,
         |         ${abFormulas.mkString(",\n         ")}
         |  FROM pv),
         |${pValueCtes("res")._1}
         |SELECT ${abOutputCols.mkString(", ")}
         |FROM ${pValueCtes("res")._2}""".stripMargin
    },

    "q_analytics_pattern" ->
      s"""WITH tl AS (
         |  SELECT user_id, epoch_us(ts) AS t, event_id,
         |         CASE event_type WHEN 'view' THEN 0
         |                         WHEN 'click' THEN 1 ELSE 2 END AS kind
         |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
         |w1 AS (
         |  SELECT *,
         |         max(CASE WHEN kind = 0
         |                  THEN {'vt': t, 'vid': event_id} END) OVER (
         |           PARTITION BY user_id ORDER BY t, kind, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vb
         |  FROM tl),
         |w2 AS (
         |  SELECT *,
         |         max(CASE WHEN kind = 1
         |                  THEN {'ct': t, 'cid': event_id, 'vt': vb.vt} END) OVER (
         |           PARTITION BY user_id ORDER BY t, kind, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb
         |  FROM w1),
         |p AS (
         |  SELECT t // $DayUs AS day,
         |         CASE WHEN cb IS NOT NULL
         |               AND cb.ct < t AND cb.ct >= t - $PatternStepUs
         |               AND cb.vt IS NOT NULL
         |               AND cb.vt < cb.ct AND cb.vt >= cb.ct - $PatternStepUs
         |              THEN 1 ELSE 0 END AS matched
         |  FROM w2 WHERE kind = 2)
         |SELECT CAST(day AS BIGINT) AS day,
         |       CAST(count(*) AS BIGINT) AS n_purchases,
         |       CAST(sum(matched) AS BIGINT) AS n_matched,
         |       CAST(sum(matched) AS DOUBLE) / count(*) AS match_rate
         |FROM p GROUP BY day ORDER BY day""".stripMargin,

    // c is read by the totals rollup AND the final projection -> MATERIALIZED
    "q_analytics_markov" ->
      """WITH tl AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type FROM events),
        |pr AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type, 1) OVER (
        |           PARTITION BY user_id ORDER BY t, event_id) AS to_type
        |  FROM tl),
        |c AS MATERIALIZED (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, tot.n_from,
        |       CAST(c.n AS DOUBLE) / tot.n_from AS p
        |FROM c JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // cust is read by the rank window AND the final census -> MATERIALIZED;
    // the cuts are the lower-median row_number idiom (ties share a cent
    // value, so the selected cut is deterministic)
    "q_analytics_revenue_conc" ->
      """WITH cust AS MATERIALIZED (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |s AS (
        |  SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
        |         count(*) OVER () AS n
        |  FROM cust),
        |c AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n_cust,
        |         max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS c50,
        |         max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS c90,
        |         max(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) AS c99
        |  FROM s)
        |SELECT c.n_cust,
        |       CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100 AS total_rev,
        |       CAST(c.c50 AS DOUBLE) / 100.0 AS p50_spend,
        |       CAST(c.c90 AS DOUBLE) / 100.0 AS p90_spend,
        |       CAST(c.c99 AS DOUBLE) / 100.0 AS p99_spend,
        |       CAST(sum(CASE WHEN cents > c.c90 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_p90,
        |       CAST(sum(CASE WHEN cents > c.c99 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_p99,
        |       CAST(CAST(sum(CASE WHEN cents > c.c90 THEN cents ELSE 0 END) AS BIGINT) AS DOUBLE)
        |         / CAST(sum(cents) AS BIGINT) AS share_above_p90,
        |       CAST(CAST(sum(CASE WHEN cents > c.c99 THEN cents ELSE 0 END) AS BIGINT) AS DOUBLE)
        |         / CAST(sum(cents) AS BIGINT) AS share_above_p99
        |FROM cust CROSS JOIN c
        |GROUP BY c.n_cust, c.c50, c.c90, c.c99""".stripMargin,

    // base is read twice (the totals row + the per-customer relation) ->
    // MATERIALIZED per the multiply-referenced CTE rule
    "q_analytics_rfm" ->
      """WITH o AS (
        |  SELECT o_custkey AS cust,
        |         epoch_ms(o_orderdate) // 86400000 AS day,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |base AS MATERIALIZED (
        |  SELECT cust, CAST(max(day) AS BIGINT) AS last_day,
        |         CAST(count(*) AS BIGINT) AS freq,
        |         CAST(sum(cents) AS BIGINT) AS cents
        |  FROM o GROUP BY cust),
        |t AS (SELECT CAST(max(last_day) AS BIGINT) AS max_day,
        |             CAST(count(*) AS BIGINT) AS n_cust FROM base),
        |r AS (
        |  SELECT cust, cents, n_cust,
        |         max_day - last_day AS rec, freq, cents // 100 AS mon
        |  FROM base CROSS JOIN t),
        |q AS (
        |  SELECT cust, cents, n_cust,
        |         CAST(row_number() OVER (ORDER BY rec, cust) AS BIGINT) AS rr,
        |         CAST(row_number() OVER (ORDER BY freq, cust) AS BIGINT) AS fr,
        |         CAST(row_number() OVER (ORDER BY mon, cust) AS BIGINT) AS mr
        |  FROM r)
        |SELECT CAST(6 - ((rr - 1) * 5 // n_cust + 1) AS BIGINT) AS r_score,
        |       CAST((fr - 1) * 5 // n_cust + 1 AS BIGINT) AS f_score,
        |       CAST((mr - 1) * 5 // n_cust + 1 AS BIGINT) AS m_score,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100 AS monetary_total
        |FROM q GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""".stripMargin,

    // ev and fw are each read twice -> MATERIALIZED per the
    // multiply-referenced CTE rule; DECIMAL through both the cell agg and
    // the running window, DOUBLE only in the final projection (§7.4).
    "q_analytics_ltv" ->
      s"""WITH ev AS MATERIALIZED (
         |  SELECT user_id, epoch_us(ts) // $WeekUs AS week, value
         |  FROM events WHERE event_type = 'purchase'),
         |fw AS MATERIALIZED (
         |  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id),
         |sizes AS (
         |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
         |  FROM fw GROUP BY cohort_week),
         |cells AS (
         |  SELECT cohort_week, ev.week - cohort_week AS week_offset,
         |         CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_buyers,
         |         sum(CAST(value AS DECIMAL(18,4))) AS rev_dec
         |  FROM ev JOIN fw USING (user_id)
         |  GROUP BY cohort_week, week_offset),
         |cum AS (
         |  SELECT cohort_week, week_offset, n_buyers, rev_dec,
         |         sum(rev_dec) OVER (PARTITION BY cohort_week ORDER BY week_offset
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec
         |  FROM cells)
         |SELECT cohort_week, week_offset, n_buyers,
         |       CAST(rev_dec AS DOUBLE) AS revenue,
         |       CAST(cum_dec AS DOUBLE) AS cum_revenue,
         |       CAST(cum_dec AS DOUBLE) / cohort_size AS ltv_per_user
         |FROM cum JOIN sizes USING (cohort_week)
         |ORDER BY cohort_week, week_offset""".stripMargin
  )
}
