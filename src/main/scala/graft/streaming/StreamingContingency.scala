package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming contingency-table maintenance — the bounded-state twin of
  * the categorical dependency panel (batch `q_profile_cramers_v` +
  * `q_profile_cat_mi`, r14).
  *
  * State is ONE counter per live (pair, a, b) contingency cell —
  * CATEGORY-DOMAIN-bounded forever (≤ r·k cells per declared pair, the
  * StreamingQuantile histogram argument on a categorical domain),
  * regardless of stream length. The cell histogram is lossless, so
  * after any replay BOTH reads run the factored batch tails over the
  * state-induced cells (ProfileOps.cramersFromCells / catMiFromCells —
  * the grid-family twin pattern applied to contingency state) and
  * equal their batch queries bit-for-bit: the χ² ordered fold sees the
  * same exact integers in the same (a, b) order, and the quanta-MI
  * sums are exact BIGINTs.
  *
  * The cell counters are Spark's own streaming aggregation: each
  * micro-batch emits the touched cells' running counts; [[latestCells]]
  * reduces an append-everything sink to the current table.
  */
object StreamingContingency {

  /** Per-micro-batch touched-cell running counts `(pair, a, b, cnt)`
    * over a streaming (or batch) frame with `pair`, `a`, `b` string
    * columns (the ProfileOps.catCells stack shape). Update mode; state
    * bounded by the category domains forever. */
  def cells(ev: DataFrame): DataFrame =
    ev.groupBy("pair", "a", "b").agg(count(lit(1)).as("cnt"))

  /** Reduce an emitted-cells table (append-everything memory sink) to
    * the CURRENT contingency cells: a touched cell's running count only
    * grows, so its largest emitted count is the current one. Both
    * reads self-join the cells against their own aggregates — over a
    * memory-sink view that fails resolution (the r9 StreamingTopK
    * gotcha), so the reduced table is checkpointed into a fresh leaf
    * (the StreamingPeriodogram.stateGrid precedent). */
  def latestCells(emitted: DataFrame): DataFrame =
    emitted.groupBy("pair", "a", "b").agg(max("cnt").as("c"))
      .localCheckpoint(true)

  /** Cramér's V read — the factored batch tail over the current cells;
    * bit-equal to batch q_profile_cramers_v after any replay. */
  def cramersReport(cellTable: DataFrame): DataFrame =
    graft.ops.ProfileOps.cramersFromCells(cellTable)

  /** Quanta-MI read — the factored batch tail over the current cells;
    * bit-equal to batch q_profile_cat_mi after any replay. */
  def catMiReport(cellTable: DataFrame): DataFrame =
    graft.ops.ProfileOps.catMiFromCells(cellTable)
}
