package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming Benford first-digit monitor — the streaming twin of
  * q_profile_benford (r12), the smallest member of the bounded-state
  * summary family (StreamingQuantile's shape at 9 cells).
  *
  * State is ONE counter per live first digit — ≤9 groups FOREVER, held by
  * Spark's own streaming aggregation. Each micro-batch emits the running
  * count of every digit it touched; [[latestCounts]] reduces an
  * append-everything sink to the current histogram, and [[report]]
  * evaluates the batch module's OWN benfordReport over it —
  * shares/deviations bit-identical to the batch key after any full replay
  * (counts are exact, the arithmetic is the shared body). */
object StreamingBenford {

  /** Per-micro-batch touched-digit running counts `(first_digit, cnt)`
    * over a streaming (or batch) frame carrying `o_totalprice` (double).
    * The digit projection is the batch key's own scan-side expression.
    * Update mode; ≤9 state groups forever. */
  def counts(ev: DataFrame): DataFrame =
    ev.select(graft.ops.DiagOps.firstDigitCol.as("first_digit"))
      .where(col("first_digit").between(1, 9))
      .groupBy("first_digit")
      .agg(count(lit(1)).as("cnt"))

  /** Current histogram from an append-everything sink: a touched digit's
    * running count only grows, so the largest emitted count is the
    * current one. */
  def latestCounts(emitted: DataFrame): DataFrame =
    emitted.groupBy("first_digit").agg(max("cnt").as("n"))

  /** The batch module's report, verbatim (shared body, zero drift). */
  def report(countTable: DataFrame): DataFrame =
    graft.ops.DiagOps.benfordReport(countTable)
}
