package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming two-sample KS drift — the bounded-state twin of batch
  * `q_profile_ks_drift` (r14, the grid-state twin-widening pattern:
  * StreamingPeriodogram's adf/hurst reads, StreamingQuantile's median).
  *
  * State is ONE counter per live (event_type, hour, cent) cell — the
  * product of the two established bounds (time-SPAN-bounded hours ×
  * value-DOMAIN-bounded cents), corpus-independent forever: more events
  * only increase counts, never keys. The hour axis must stay in state
  * because the batch statistic splits the stream at the GLOBAL mid-hour
  * ((min h + max h) div 2), which is only known at read time — a
  * per-arrival half assignment could never be repaired as the span
  * grows. Unlike GK-style drift sketches the cell histogram is lossless,
  * so after any replay [[report]] equals the batch query bit-for-bit:
  * it derives the same mid-hour from the observed cells (the cells'
  * hour set has the events' min/max), collapses cells to the same
  * two-half (type, cent) histogram as exact integers, and runs the
  * IDENTICAL factored tail (ProfileOps.ksFromHalves — the twin-body
  * rule in function form).
  *
  * The cell counters are Spark's own streaming aggregation: each
  * micro-batch emits the touched cells' running counts; [[latestCells]]
  * reduces an append-everything sink to the current cell histogram.
  */
object StreamingKsDrift {

  private val HourUs = 3600000000L

  /** Per-micro-batch touched-cell running counts
    * `(event_type, h, cent, cnt)` over a streaming (or batch) frame with
    * `event_type` (string), `ts` (timestamp) and `value` (double)
    * columns. Hour and cent quantization are the batch query's own
    * (unix_micros div HourUs, round(value·100)) — identical cells,
    * identical mid-hour split. Update mode. */
  def cells(ev: DataFrame): DataFrame =
    ev
      .select(col("event_type"),
        expr(s"unix_micros(ts) div $HourUs").as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cent"))
      .groupBy("event_type", "h", "cent")
      .agg(count(lit(1)).as("cnt"))

  /** Reduce an emitted-cells table (append-everything memory sink) to
    * the CURRENT cell histogram: a touched cell's running count only
    * grows, so its largest emitted count is the current one. The
    * report joins this relation against its own aggregate — over a
    * memory-sink view that fails resolution (the r9 StreamingTopK
    * gotcha), so the reduced table is checkpointed into a fresh leaf
    * (the StreamingContingency.latestCells template). */
  def latestCells(emitted: DataFrame): DataFrame =
    emitted.groupBy("event_type", "h", "cent").agg(max("cnt").as("cnt"))
      .localCheckpoint(true)

  /** The KS drift report over a cell histogram — bit-equal to batch
    * q_profile_ks_drift after a full replay: same mid-hour derivation,
    * same exact-integer two-half histogram, same factored tail. */
  def report(cellTable: DataFrame): DataFrame = {
    val mid = cellTable.agg(expr("(min(h) + max(h)) div 2").as("hmid"))
    val hist = cellTable.crossJoin(broadcast(mid))
      .withColumn("first_half", col("h") <= col("hmid"))
      .groupBy("event_type", "cent")
      .agg(sum(when(col("first_half"), col("cnt")).otherwise(0L)).as("c1"),
        sum(when(!col("first_half"), col("cnt")).otherwise(0L)).as("c2"))
    graft.ops.ProfileOps.ksFromHalves(hist)
  }
}
