package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming EXACT quantiles over a value-domain-bounded stream — the
  * streaming twin of the batch order-statistic selection (DiagOps
  * valueAtRanks: q_ts_anomaly_mad's lower median, q_agg_percentile's
  * bracketing ranks), next to StreamingCountMin/TopK in the bounded-state
  * summary family.
  *
  * State is ONE counter per live (event_type, cent) histogram bin —
  * value-DOMAIN-bounded forever (the q_ts_anomaly_mad / revenue_conc
  * boundedness argument: cents are a fixed price domain, not a row count),
  * regardless of stream length. Unlike GK/t-digest this is NOT a sketch:
  * because the domain is bounded the histogram is lossless, so after any
  * replay the quantile reads are EXACT — [[quantiles]]' lower-median
  * equals batch q_ts_anomaly_mad's `med` column bit-for-bit
  * (StreamingQuantileSpec pins it): the selection convention is the same
  * rank (n+1) div 2 selected by VALUE, and a k/100.0 cent double survives
  * the round(×100) re-derivation exactly (CLAUDE.md r10).
  *
  * The bin counters are Spark's own streaming aggregation: each
  * micro-batch emits the touched bins' running counts; [[latestBins]]
  * reduces an append-everything sink to the current histogram, and
  * [[quantiles]] reads exact q25/median/q75 per type from it.
  */
object StreamingQuantile {

  /** Per-micro-batch touched-bin running counts `(event_type, cent, cnt)`
    * over a streaming (or batch) frame with `event_type` (string) and
    * `value` (double) columns. The cent quantization is the batch
    * selection's own round(value·100) — identical bins, identical ties.
    * Update mode; state is bounded by the value domain forever. */
  def bins(ev: DataFrame): DataFrame =
    ev
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cent"))
      .groupBy("event_type", "cent")
      .agg(count(lit(1)).as("cnt"))

  /** Reduce an emitted-bins table (append-everything memory sink) to the
    * CURRENT histogram: a touched bin's running count only grows, so its
    * largest emitted count is the current one. */
  def latestBins(emitted: DataFrame): DataFrame =
    emitted.groupBy("event_type", "cent").agg(max("cnt").as("cnt"))

  /** Exact per-type quartiles from a histogram: rank r_q = max(1,
    * (a·(n+1)) div b) selected by VALUE (min cent whose cumulative count
    * reaches the rank) — the med read is bit-identical to batch
    * q_ts_anomaly_mad's lower median. The cumulative window runs over the
    * DOMAIN-bounded bin relation, never event rows. It keeps this one
    * window rather than the batch engines' prefix-count index plus
    * selectRanks: the histogram arrives already aggregated and is read
    * once per call, so an index would add a checkpoint and its jobs with
    * nothing to reuse them. */
  def quantiles(binTable: DataFrame): DataFrame = {
    val cumW = Window.partitionBy("event_type").orderBy("cent")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy("event_type")
    binTable
      .withColumn("cum", sum("cnt").over(cumW))
      .withColumn("n", sum("cnt").over(totW))
      .groupBy("event_type")
      .agg(
        (min(when(col("cum") >= greatest(lit(1L), expr("(n + 1) div 4")),
          col("cent"))) / 100.0).as("q25"),
        (min(when(col("cum") >= expr("(n + 1) div 2"),
          col("cent"))) / 100.0).as("med"),
        (min(when(col("cum") >= greatest(lit(1L), expr("(3 * (n + 1)) div 4")),
          col("cent"))) / 100.0).as("q75"),
        max(col("n")).cast("long").as("n"))
  }
}
