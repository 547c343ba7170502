package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.{AnnOps, LlmOps}

/** Streaming embedding-side SemDeDup: per-vector (keep, dup_of) verdicts
  * over an UNBOUNDED vector stream — the semantic-dedup gate a 100 TB
  * ingest pipeline runs as embeddings arrive, completing the batch/stream
  * parity story that previously stopped at token LSH (StreamingDedup).
  *
  * Shape (the StreamingDedup keyed-state pattern over sign-LSH cells):
  *   1. each arriving vector is routed to its sign-LSH cell — the SAME
  *      deterministic ±1 hyperplane family as batch `q_llm_emb_semdedup`
  *      ([[AnnOps.NeardupPlanes]]), with the dot product folded in index
  *      order exactly like the codegen'd `VectorDot` kernel, so the cell
  *      ids are bit-identical across batch and stream;
  *   2. keyed state per cell (`flatMapGroupsWithState`) remembers the
  *      first [[AnnOps.MaxEmbBucket]] member vectors (keep-first, by
  *      arrival order; micro-batch arrivals are processed in vec_id order
  *      for determinism) — the streaming analog of the batch capBuckets
  *      mega-bucket cap, bounding state at ≤ 2^8 cells × cap vectors
  *      FOREVER, no TTL needed;
  *   3. each under-cap arrival is compared against the remembered members
  *      (cosine replicated bit-for-bit from the `CosineSimilarity`
  *      kernel); `dup_of` = the smallest lower-id member at cos ≥ tau,
  *      `keep` = none matched. Over-cap arrivals pass through as keep
  *      (they are outside the capped pairing set — the batch cap
  *      artifact, quantified in SCALING.md "Round 9: LSH bucket-cap
  *      sensitivity").
  *
  * Parity contract (StreamingSemdedupSpec): on a vec_id-ORDERED stream the
  * verdicts equal batch `q_llm_emb_semdedup` EXACTLY, row for row — the
  * first-K members per cell coincide with capBuckets' vec_id-ordered cap,
  * and every remembered member has a lower id than any later arrival. On
  * an out-of-order stream the semantics degrade gracefully to
  * first-arrival-wins (still bounded, still deterministic given the
  * stream order); only pairs with member_id < arrival_id are emitted, so
  * a verdict never names a HIGHER id as its duplicate root.
  */
object StreamingSemdedup {

  final case class Verdict(vec_id: Long, bucket: Long, keep: Boolean,
      dup_of: Option[Long])

  /** Keyed cell state: parallel member id/embedding vectors, keep-first
    * capped. `private[graft]` (not `private`) so Janino-generated encoder
    * code can see it — the round-5 buffer-visibility rule. */
  private[graft] final case class CellState(ids: Seq[Long],
      embs: Seq[Seq[Double]])

  /** The shared plane family as flat arrays (values identical to
    * [[AnnOps.NeardupPlanes]] — this is a representation change only). */
  private val PlanesArr: Array[Array[Double]] =
    AnnOps.NeardupPlanes.map(_.toArray).toArray

  /** Sign-LSH cell of an embedding — bit p set iff plane_p · emb > 0,
    * the dot folded in index order (bit-identical to the codegen'd
    * VectorDot kernel the batch bucketing evaluates). */
  private[graft] def bucketOf(emb: Seq[Double]): Long = {
    val e = emb.toArray
    var bucket = 0L
    var p = 0
    while (p < PlanesArr.length) {
      val plane = PlanesArr(p)
      val n = math.min(e.length, plane.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += e(i) * plane(i); i += 1 }
      if (acc > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Fused-pass cosine — operation-for-operation the `CosineSimilarity`
    * kernel (one loop accumulating dot and both norms, then
    * dot / (√nx · √ny)), so stream and batch agree to the last ulp. */
  private[graft] def cosine(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x(i)
      val yv = y(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** The per-cell state update behind [[verdicts]], exposed for
    * deterministic unit testing with `TestGroupState`. */
  private[graft] def cellUpdate(bucket: Long,
      arrivals: Iterator[(Long, Seq[Double])],
      state: GroupState[CellState],
      tau: Double = AnnOps.SemDedupTau,
      cap: Int = AnnOps.MaxEmbBucket): Iterator[Verdict] = {
    val st = state.getOption.getOrElse(CellState(Vector.empty, Vector.empty))
    var ids = st.ids.toVector
    var embs = st.embs.iterator.map(_.toArray).toVector
    val out = Vector.newBuilder[Verdict]
    arrivals.toSeq.sortBy(_._1).foreach { case (id, embSeq) =>
      // Redelivery idempotence (the StreamingSampleK contract): an id
      // already remembered in state is a re-delivered arrival — emit
      // nothing, consume no cap slot. Only under-cap arrivals are in
      // state, so an over-cap redelivery re-emits its pass-through keep
      // verdict (harmless: verdicts are keyed by vec_id downstream).
      if (ids.contains(id)) ()
      else if (ids.length >= cap) out += Verdict(id, bucket, keep = true, None)
      else {
        val e = embSeq.toArray
        var dupOf = Long.MaxValue
        var j = 0
        while (j < ids.length) {
          if (ids(j) < id && ids(j) < dupOf && cosine(embs(j), e) >= tau)
            dupOf = ids(j)
          j += 1
        }
        out += (if (dupOf == Long.MaxValue) Verdict(id, bucket, keep = true, None)
                else Verdict(id, bucket, keep = false, Some(dupOf)))
        ids :+= id
        embs :+= e
      }
    }
    state.update(CellState(ids, embs.map(_.toSeq)))
    out.result().iterator
  }

  /** Per-arrival (keep, dup_of) verdicts over a streaming (or batch)
    * frame with `vec_id` LONG and `emb` ARRAY<DOUBLE> columns. Update
    * mode; state is bounded at 2^planes cells × cap vectors forever. */
  def verdicts(vecs: DataFrame): Dataset[Verdict] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs
      .select(col("vec_id").cast("long"), col("emb").cast("array<double>"))
      .as[(Long, Seq[Double])]
      .groupByKey { case (_, emb) => bucketOf(emb) }
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (b: Long, it: Iterator[(Long, Seq[Double])], st: GroupState[CellState]) =>
          cellUpdate(b, it, st))
  }
}
