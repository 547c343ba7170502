package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming SCD2 maintainer — the streaming twin of q_sink_scd2 (r12).
  *
  * Change events (the batch key's own scd2ChangeEvents projection) arrive
  * as a stream; per-customer state is ONE min effective ms, held by
  * Spark's own streaming aggregation — O(1) per changed entity, the
  * per-entity bound of StreamingSessionize. The effective timestamp folds
  * with `min`, so a FULL redelivery wave leaves the state value unchanged
  * (idempotence is structural, the StreamingSampleK precedent) — it only
  * re-emits the same values, and [[latestChanges]] folds the emitted rows
  * with the same `min`, so the readout is redelivery-proof too.
  *
  * [[scd2]] joins the latest change state onto the dimension snapshot and
  * evaluates the batch module's OWN scd2Assembly — SCD2 rows
  * bit-identical to batch q_sink_scd2 after any full replay.
  */
object StreamingScd2 {

  /** Per-micro-batch touched-customer effective times `(c_custkey,
    * eff_ms)` over a streaming (or batch) frame carrying `(c_custkey,
    * chg_ms)` — feed it the batch key's scd2ChangeEvents projection.
    * Update mode; one state group per CHANGED customer forever
    * (per-entity bound). */
  def changes(ev: DataFrame): DataFrame =
    ev.select(col("c_custkey").cast("long"), col("chg_ms").cast("long"))
      .groupBy("c_custkey")
      .agg(min("chg_ms").as("eff_ms"))

  /** Current change state from an append-everything sink: the smallest
    * emitted effective ms per customer. */
  def latestChanges(emitted: DataFrame): DataFrame =
    emitted.groupBy("c_custkey").agg(min("eff_ms").as("eff_ms"))

  /** The batch module's assembly, verbatim (shared body, zero drift):
    * dimension snapshot LEFT JOIN the latest change state → SCD2 rows. */
  def scd2(dim: DataFrame, latest: DataFrame): DataFrame =
    graft.ops.SourceSinkOps.scd2Assembly(
      dim.join(latest, Seq("c_custkey"), "left"))
}
