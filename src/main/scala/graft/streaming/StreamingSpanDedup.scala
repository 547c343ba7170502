package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.SlidingHashGenerator
import graft.ops.LlmOps

/** Streaming span-granular exact-substring dedup: dup WINDOW POSITIONS
  * emitted as documents arrive — completes the streaming dedup story at
  * substring granularity (exact-id = StreamingDedup, MinHash-band =
  * StreamingNeardup, embedding = StreamingSemdedup; this is the
  * RefinedWeb-style decontamination gate run at ingest).
  *
  * Shape:
  *   1. each arriving document fans out to its sliding w-token window
  *      digests through the batch generator's own rolling fold
  *      (`SlidingHashGenerator.digests` — spec-pinned bit-equal per doc);
  *   2. keyed state per digest holds (first doc, first pos, count) —
  *      O(1) per KEY forever; key count is O(distinct windows), the
  *      StreamingDedup state-store contract. When a digest's count goes
  *      1→2 the remembered FIRST occurrence is retro-emitted together
  *      with the arrival; later arrivals emit themselves — so every dup
  *      position surfaces exactly once and the emitted set equals the
  *      batch `df > 1` dup relation after any replay. Counter state ⇒
  *      declared exactly-once input (the StreamingCountMin class).
  *   3. [[report]] runs the IDENTICAL batch islands-merge + per-doc
  *      report tail ([[LlmOps.spanReportFromDup]] — the twin-body rule
  *      in function form), so after a full replay it equals batch
  *      `q_llm_span_dedup` bit-for-bit (StreamingSpanDedupSpec).
  */
object StreamingSpanDedup {

  final case class DupPos(doc_id: Long, pos: Long)

  /** Keyed digest state. `private[graft]` (not `private`) so
    * Janino-generated encoder code can see it — the round-5 rule. */
  private[graft] final case class WinState(doc: Long, pos: Long, n: Long)

  /** Sliding w-token window digests of a text as (pos, wh) — the batch
    * generator's own rolling fold ([[SlidingHashGenerator.digests]]). */
  private[graft] def windows(text: String, w: Int): Seq[(Long, Long)] =
    SlidingHashGenerator.digests(text, w).toSeq.zipWithIndex
      .map { case (wh, p) => (p.toLong, wh) }

  /** The per-digest state update behind [[dupPositions]], exposed for
    * deterministic unit testing with `TestGroupState`. */
  private[graft] def digestUpdate(wh: Long,
      arrivals: Iterator[(Long, Long)],
      state: GroupState[WinState]): Iterator[DupPos] = {
    var st = state.getOption
    val out = Vector.newBuilder[DupPos]
    arrivals.toSeq.sorted.foreach { case (d, p) =>
      st match {
        case None => st = Some(WinState(d, p, 1L))
        case Some(w0) if w0.n == 1L =>
          out += DupPos(w0.doc, w0.pos)
          out += DupPos(d, p)
          st = Some(w0.copy(n = 2L))
        case Some(w0) =>
          out += DupPos(d, p)
          st = Some(w0.copy(n = w0.n + 1L))
      }
    }
    st.foreach(state.update)
    out.result().iterator
  }

  /** Per-arrival dup-window-position emissions over a streaming (or
    * batch) frame with `doc_id` LONG and `text` STRING columns. Update
    * mode; per-digest state is one (doc, pos, count) triple. */
  def dupPositions(docs: DataFrame, w: Int = LlmOps.SpanW): Dataset[DupPos] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        windows(text, w).map { case (pos, wh) => (wh, id, pos) }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (wh: Long, it: Iterator[(Long, Long, Long)],
            st: GroupState[WinState]) =>
          digestUpdate(wh, it.map(t => (t._2, t._3)), st))
  }

  /** The batch report tail over an emitted dup-position table: after a
    * full replay this equals batch `q_llm_span_dedup` bit-for-bit.
    * `docs` supplies the per-doc token counts (the batch query's own
    * left side). */
  def report(emitted: DataFrame, docs: DataFrame,
      w: Int = LlmOps.SpanW): DataFrame =
    LlmOps.spanReportFromDup(docs,
      emitted.select(col("doc_id"), lit(w.toLong).as("w"), col("pos")), Seq(w))
      .drop("w")
}
