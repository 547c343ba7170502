package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.DiagOps

/** Streaming KMV (k-minimum-values) distinct-count sketch per event type —
  * the bounded-state streaming twin of batch `q_agg_kmv_distinct`.
  *
  * State is ONE [[DiagOps.KmvSketch]] buffer per event type (O(k) hashes),
  * held by Spark's own streaming aggregation over the batch query's own
  * salt-14 element hash. The hash is a pure function of `user_id` and the
  * buffer a bottom-k MIN-FOLD, so a redelivered row leaves the sketch
  * unchanged (the StreamingScd2 fold-idempotence rule). Each micro-batch
  * emits the current (sketch_size, kth_hash, est_distinct) triple of every
  * type it touched — KmvSketch.finish, the batch readout itself.
  */
object StreamingKmv {

  /** Per-micro-batch touched-type sketch triples `(event_type,
    * sketch_size, kth_hash, est_distinct)` over a streaming (or batch)
    * frame with `event_type STRING, user_id LONG` columns. Update mode. */
  def sketches(events: DataFrame): DataFrame = {
    val kmv = udaf(DiagOps.KmvSketch)
    events.groupBy("event_type")
      .agg(kmv(DiagOps.kmvHash("user_id")).as("sk"))
      .select(col("event_type"), col("sk._1").as("sketch_size"),
        col("sk._2").as("kth_hash"), col("sk._3").as("est_distinct"))
  }

  /** Current per-type triple from an append-everything sink. The min-fold
    * makes the emissions monotone: sketch_size never shrinks, below
    * capacity a size fixes the kept set (a new distinct hash grows it), and
    * at capacity kth_hash never grows. So the latest row is the one with
    * the largest (sketch_size, −kth_hash). */
  def latestSketch(emitted: DataFrame): DataFrame =
    emitted.groupBy("event_type")
      .agg(max_by(
        struct(col("sketch_size"), col("kth_hash"), col("est_distinct")),
        struct(col("sketch_size"), -col("kth_hash"))).as("l"))
      .select(col("event_type"), col("l.sketch_size"), col("l.kth_hash"),
        col("l.est_distinct"))
      .orderBy("event_type")
}
