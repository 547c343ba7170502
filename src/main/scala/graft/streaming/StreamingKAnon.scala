package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming k-anonymity / l-diversity maintenance — the bounded-state
  * twin of batch `q_profile_k_anon` (r15).
  *
  * State is ONE aggregation buffer per live quasi-identifier class: the
  * member count plus the SET of sensitive values seen (the
  * market-segment domain has ≤ a handful of values, so the set is
  * CATEGORY-DOMAIN-bounded; the class key space is
  * nations × balance bands, the StreamingContingency cell argument).
  * The class histogram is lossless, so after any exactly-once replay
  * the read derives the SAME (k_size, l_div) integers as the batch
  * aggregation and runs the factored batch tail
  * (ProfileOps.kAnonAssemble) — bit-equal by construction (pure
  * integer ops, no FP surface anywhere in this operator).
  *
  * Counter state ⇒ declared exactly-once input (the StreamingCountMin
  * class). A governance monitor reads the current risk table at any
  * time without a batch pass over the released table.
  */
object StreamingKAnon {

  /** Per-micro-batch touched-class running totals `(nation, bal_band,
    * cnt, l_div)` over a streaming (or batch) frame with `nation`,
    * `bal_band`, `c_mktsegment` columns (the ProfileOps.kAnonBanded
    * shape): the member count and the number of distinct sensitive
    * values. Update mode; state bounded by the class and
    * sensitive-value domains forever. */
  def classes(ev: DataFrame): DataFrame =
    ev.groupBy("nation", "bal_band")
      .agg(count(lit(1)).as("cnt"),
        size(collect_set("c_mktsegment")).cast("long").as("l_div"))

  /** Reduce an emitted-classes table (append-everything memory sink) to
    * the CURRENT class relation: a touched class's count and distinct
    * sensitive values only grow, so their largest emitted values are
    * the current ones. */
  def latestClasses(emitted: DataFrame): DataFrame =
    emitted.groupBy("nation", "bal_band")
      .agg(max("cnt").as("k_size"), max("l_div").as("l_div"))
      .localCheckpoint(true)

  /** k-anonymity report — the factored batch tail over the current
    * classes; bit-equal to batch q_profile_k_anon after any
    * exactly-once replay. */
  def report(classTable: DataFrame): DataFrame =
    graft.ops.ProfileOps.kAnonAssemble(classTable)
}
