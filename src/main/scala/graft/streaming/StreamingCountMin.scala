package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ReplayableHash
import graft.ops.DiagOps

/** Streaming Count-Min sketch over an unbounded keyed stream — the
  * streaming twin of batch `q_agg_countmin`, next to StreamingTopK in the
  * bounded-state summary family.
  *
  * Where StreamingTopK keeps the MG *candidate table* (which keys are
  * frequent), Count-Min answers point *frequency* queries for ANY key with
  * the textbook overestimate guarantee. State is one counter per touched
  * sketch cell: ≤ depth × (2·width − 1) = 4 × 1,023 groups FOREVER
  * (≤ depth × width = 2,048 when every key is non-negative — the column
  * hash is remainder-signed, see [[cellIds]]), regardless of stream length
  * or key cardinality — the same deterministic `ReplayableHash` affine
  * rows (salt 11) AND the same remainder arithmetic as the batch sketch,
  * so after any prefix of the stream the cell table EQUALS the batch
  * sketch of the rows seen so far and point estimates agree exactly for
  * any LONG key, negative included (StreamingCountMinSpec pins both
  * against q_agg_countmin and a mixed-sign driver replay).
  *
  * The cell counters are Spark's own streaming aggregation: each
  * micro-batch emits the touched cells' running counts; [[latestCells]]
  * reduces an append-everything sink to the current cell table, and
  * [[estimates]] answers point queries with the min-over-rows read.
  */
object StreamingCountMin {

  /** Scan-side fan-out of a LONG key column to its [[DiagOps.CmDepth]]
    * cell ids — the SAME arithmetic as the batch sketch (and the % the
    * DuckDB twin replays): `((a·(key % P) + b) % P) % width` with the
    * REMAINDER operator, affine row params from salt 11, mod-P before
    * multiply. Remainder (not pmod) is load-bearing: for negative keys (a
    * key space the repo uses — round-8 synthetic ids are negative) the
    * batch formula yields a NEGATIVE column hash, and matching it exactly
    * is what keeps the cell table equal to the batch sketch for ANY key.
    * The flat encoding `h + (2r+1)·width` keeps per-row id ranges disjoint
    * over the full remainder range h ∈ (−width, width). */
  private[graft] def cellIds(key: Column): Column = {
    val P = ReplayableHash.P
    val cells = ReplayableHash.CountMinParams.take(DiagOps.CmDepth).zipWithIndex
      .map { case ((a, b), r) =>
        (((lit(a) * (key % lit(P)) + lit(b)) % lit(P)) % lit(DiagOps.CmWidth)
          + lit((2 * r + 1) * DiagOps.CmWidth)).cast("int")
      }
    array(cells: _*)
  }

  /** Per-micro-batch touched-cell running counts `(cell, cnt)` over a
    * streaming (or batch) frame with a LONG `key` column. Update mode;
    * state is bounded at depth × width cells forever. */
  def cells(keyed: DataFrame): DataFrame =
    keyed
      .select(explode(cellIds(col("key"))).as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).as("cnt"))

  /** Reduce an emitted-cells table (append-everything memory sink) to the
    * CURRENT cell table: a touched cell's running count only grows, so
    * its largest emitted count is the current one. */
  def latestCells(emitted: DataFrame): DataFrame =
    emitted.groupBy("cell").agg(max("cnt").as("cnt"))

  /** Point-frequency estimates for a LONG `key` relation against a cell
    * table: fan each key to its cells, min over the sketch rows (absent
    * cells count 0 — the key's row was never touched). */
  def estimates(keys: DataFrame, cellTable: DataFrame): DataFrame =
    keys
      .withColumn("cell", explode(cellIds(col("key"))))
      .join(broadcast(cellTable), Seq("cell"), "left")
      .groupBy("key")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("c_est"))
}
