package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.DiagOps

/** Streaming spectral monitor — the streaming twin of batch
  * `q_ts_periodogram`: maintain the per-(event_type, hour) exact cent
  * histogram as keyed state, and read the integer-quantized DFT report off
  * the CURRENT state table with the batch implementation itself
  * (`DiagOps.periodogramOf` over `DiagOps.gridOf` — the forecastFormulas
  * twin-body rule, in function form).
  *
  * State is one cell per (type, OBSERVED hour): TIME-SPAN-bounded forever
  * (the StreamingOhlc/Bollinger axis — grid hours, never event rows). Each
  * cell carries the hour's running Σ value·10⁴ as an exact BIGINT; at read
  * time `sum4 / 10⁴` is ONE correctly-rounded IEEE division of exact
  * integers, bit-equal to the batch path's DECIMAL(18,4)-sum→DOUBLE cast
  * (both are the correctly-rounded quotient of the same exact a / 10⁴ —
  * StreamingPeriodogramSpec pins full-replay equality row-for-row).
  * Counter state ⇒ exactly-once input by declaration (the
  * StreamingCountMin class; an at-least-once source would double-add).
  * The counters are Spark's own streaming aggregation.
  */
object StreamingPeriodogram {

  /** Per-micro-batch touched-bar running totals `(event_type, h, n,
    * sum4)` over a streaming (or batch) frame with (event_type, ts,
    * value): `n` arrivals, `sum4` their exact Σ value·10⁴. Update mode.
    * The value enters as `CAST(value AS DECIMAL(18,4)) · 10⁴` — the SAME
    * half-up 4-dp quantization the batch grid's DECIMAL sum applies per
    * addend, kept as an exact BIGINT so state addition is order-free. */
  def bars(events: DataFrame): DataFrame =
    events
      .selectExpr("event_type",
        s"unix_micros(ts) div ${DiagOps.HourUs} AS h",
        "CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v4")
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("n"), sum("v4").as("sum4"))

  /** Reduce an append-everything sink to the CURRENT bars (see
    * [[stateHourly]]) and run the BATCH periodogram
    * over the zero-filled grid they induce: after any exactly-once prefix
    * this EQUALS q_ts_periodogram over the rows seen so far. */
  def report(emitted: DataFrame): DataFrame =
    DiagOps.periodogramOf(stateGrid(emitted))

  /** The zero-filled cent grid the current state table induces — the
    * SAME relation q_ts_* batch queries compute from parquet, so every
    * grid-analytics body reads it unchanged (r13: the twin surface
    * widened from one read to the family). */
  private def stateGrid(emitted: DataFrame): DataFrame =
    DiagOps.gridOf(stateHourly(emitted))

  /** The observed (event_type, h, sv) bars the current state induces —
    * the same hourly-aggregate relation the batch queries compute from
    * parquet (sum4/10⁴ is the correctly-rounded quotient of the same
    * exact integers as the batch DECIMAL→DOUBLE cast). A bar's arrival
    * count `n` only grows, so the sum emitted with its largest `n` is
    * the current one (a sum alone need not grow: values may be
    * negative). */
  private def stateHourly(emitted: DataFrame): DataFrame =
    emitted.groupBy("event_type", "h")
      .agg(max_by(col("sum4"), col("n")).as("sum4"))
      .selectExpr("event_type", "h",
        "CAST(sum4 AS DOUBLE) / CAST(10000 AS DOUBLE) AS sv")
      // gridOf/acfRelFromHourly derive ranges FROM hourly and join back
      // against it — over a memory-sink view that self-join fails
      // resolution (the r9 StreamingTopK gotcha); the checkpoint makes
      // it a fresh leaf
      .localCheckpoint(true)

  /** Dickey–Fuller unit-root read off the CURRENT state — the batch
    * q_ts_adf body ([[graft.ops.TsOps.adfOf]]) over the state-induced
    * grid: bit-equal to batch after any exactly-once prefix (the state
    * sums are the same exact BIGINTs; StreamingPeriodogramSpec pins
    * it). */
  def adfReport(emitted: DataFrame): DataFrame =
    graft.ops.TsOps.adfOf(stateGrid(emitted))

  /** Rescaled-range (Hurst) profile read off the CURRENT state — the
    * batch q_ts_hurst body ([[graft.ops.TsOps.hurstOf]]), same
    * bit-equality argument. */
  def hurstReport(emitted: DataFrame): DataFrame =
    graft.ops.TsOps.hurstOf(stateGrid(emitted))

  /** Pairwise Granger screen read off the CURRENT state — the batch
    * q_ts_granger body ([[graft.ops.TsOps.grangerOf]], r14), same
    * bit-equality argument. */
  def grangerReport(emitted: DataFrame): DataFrame =
    graft.ops.TsOps.grangerOf(stateGrid(emitted))

  /** Engle–Granger cointegration read off the CURRENT state — the
    * batch q_ts_coint body ([[graft.ops.TsOps.cointOf]], r14), same
    * bit-equality argument (the ordered residual folds see the same
    * exact-integer-derived doubles in the same h order). */
  def cointReport(emitted: DataFrame): DataFrame =
    graft.ops.TsOps.cointOf(stateGrid(emitted))

  /** Per-lag Pearson correlogram read off the CURRENT state — the batch
    * q_ts_acf body (DiagOps.acfRelFromHourly, r15) over the state bars:
    * bit-equal to batch after any exactly-once prefix (the correlogram
    * widening of the grid-twin family). */
  def acfReport(emitted: DataFrame): DataFrame =
    graft.ops.DiagOps.acfRelFromHourly(stateHourly(emitted))
      .orderBy("event_type", "lag_h")

  /** Durbin–Levinson PACF read — the batch q_ts_pacf tail
    * ([[graft.ops.TsOps.pacfFromRel]]) over the state correlogram. */
  def pacfReport(emitted: DataFrame): DataFrame =
    graft.ops.TsOps.pacfFromRel(
      graft.ops.DiagOps.acfRelFromHourly(stateHourly(emitted)))

  /** Ljung–Box portmanteau read — the batch q_ts_ljung_box tail
    * ([[graft.ops.TsOps.ljungFromRel]]) over the state correlogram. */
  def ljungReport(emitted: DataFrame): DataFrame =
    graft.ops.TsOps.ljungFromRel(
      graft.ops.DiagOps.acfRelFromHourly(stateHourly(emitted)))

  /** Cross-spectrum read (r15) — the batch q_ts_cross_spectrum body
    * ([[graft.ops.DiagOps.crossSpectrumOf]]) over the state grid:
    * pairwise phase alignment at the probed periods, bit-equal to batch
    * after any exactly-once prefix. */
  def crossSpectrumReport(emitted: DataFrame): DataFrame =
    graft.ops.DiagOps.crossSpectrumOf(stateGrid(emitted))

  /** Welch coherence read (r15) — the batch q_ts_coherence body
    * ([[graft.ops.DiagOps.coherenceOf]]) over the state grid. */
  def coherenceReport(emitted: DataFrame): DataFrame =
    graft.ops.DiagOps.coherenceOf(stateGrid(emitted))

  /** Welch stationarity read (r15) — the batch q_ts_welch body
    * ([[graft.ops.DiagOps.welchOf]]) over the state grid. */
  def welchReport(emitted: DataFrame): DataFrame =
    graft.ops.DiagOps.welchOf(stateGrid(emitted))
}
