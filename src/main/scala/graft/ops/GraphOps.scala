package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the purchase graph (customer —bought-from→
  * supplier, from lineitem ⋈ orders): iterative PageRank and the degree
  * profile. Completes the engine's analytics families with the
  * message-passing shape (join on src → aggregate on dst) that iterative
  * graph algorithms use at scale — the same discipline as the
  * q_llm_dup_clusters label propagation, but with weighted numeric state.
  *
  * Replay discipline: ranks are SCALED BIGINTs (start 10^6 per node) and
  * every update is integer arithmetic — `r div deg` per edge, damped as
  * `(0.15 + 0.85·m)` in the same scale via `(15·S + 85·m) div 100`. Both
  * engines floor-divide positive operands identically, so [[PrIters]]
  * unrolled CTE stages replay the Spark loop bit-exactly (the
  * q_llm_bpe_train pattern — the engine early-exits at the quantized
  * period-2 limit cycle and both sides report the cycle's elementwise
  * min, which is invariant under the oracle's extra rounds). Max
  * value bound: m ≤ N·S ≈ 2^41 at a billion nodes, 85·m ≈ 2^48 — no
  * BIGINT overflow on either engine at any realistic scale.
  */
object GraphOps extends QueryModule {

  /** Unroll depth of the PageRank ORACLE stages. The engine iterates to
    * the quantized LIMIT CYCLE with early exit (r_k = r_{k−2} elementwise,
    * see [[pagerankRanks]]) and refuses non-convergence, and both engine
    * and oracle report the elementwise min of the two cycle states — so
    * engine ≡ oracle for ANY unroll depth ≥ the measured cycle-entry depth
    * + 1 (both unrolled states in-cycle). Entry depth is geometry-light —
    * contraction is the 0.85 damping factor, so depth ≈
    * log(PrScale)/log(1/0.85) ≈ 85 regardless of graph size; fixture
    * measurements are recorded in SCALING.md (r10). The margin rule is
    * CcIters': a fixture entering the cycle later fails the hash gate
    * loudly. */
  private[graft] val PrIters = 110

  /** Engine-side fixpoint round cap (the CcMaxRounds refusal discipline). */
  private[graft] val PrMaxRounds = 200

  private[graft] val PrScale = 1000000L

  /** Plain min-label rounds unrolled in the q_graph_concomp ORACLE. The
    * engine computes the same FIXPOINT by early-exiting relax rounds
    * ([[minLabelRounds]]) and refuses to return unconverged labels, so
    * engine ≡ oracle exactly when the plain unroll
    * also reaches the fixpoint: measured plain-propagation depth is 4
    * (sf0.001) / 11 (sf0.01) / 8 (sf0.1), so 16 carries margin on every
    * fixture (a fixture needing more would fail the hash gate loudly, not
    * silently). */
  private[graft] val CcIters = 16

  /** Round cap for the engine-side fixpoint loop (rounds = propagation
    * depth ≤ component diameter; fixtures measure ≤ 11). Non-convergence
    * throws (the dupClusters refusal discipline) rather than returning
    * non-component labels — Pipelines.connectedComponents takes the cap as
    * a parameter for deeper graphs. */
  private[graft] val CcMaxRounds = 50

  /** Strong co-purchase edge support: parts must share ≥ this many orders.
    * Thresholding is what makes components meaningful — the support-1
    * graph is one giant hairball at every fixture scale. */
  private[graft] val StrongSupport = 2

  /** Per-order basket cap for co-purchase pair generation: pair fan-out per
    * order is quadratic in basket size, so an unbounded cart is the exact
    * per-key-density trap SCALING.md bans. Kept items are the first
    * [[MaxBasket]] by part id (replayable rank in both engines); TPC-H-ish
    * baskets are ≤7 items so the fixtures are uncapped in practice. */
  private[graft] val MaxBasket = 32

  /** BFS "infinity" sentinel (unreached) — additive-safe (INF+1 is far
    * from BIGINT overflow) and far above any real hop count. */
  private[graft] val BfsInf = 1000000000L

  /** Unroll depth of the BFS ORACLE stages: the engine relaxes to the
    * FIXPOINT with early exit (and refuses non-convergence), so engine ≡
    * oracle whenever the plain unroll converges too. Measured relax depth
    * (incl. the confirming round) is 4 (sf0.001) / 8 (sf0.01) / 12
    * (sf0.1); 20 carries margin (the CcIters discipline — a deeper
    * fixture fails the hash gate loudly). */
  private[graft] val BfsIters = 20

  /** k-core threshold: the peel keeps the maximal subgraph where every
    * node has ≥ [[KCoreK]] surviving mutual-KNN neighbors — the standard
    * "dense cohesive region" extraction (cores survive hub removal where
    * raw degree does not). */
  private[graft] val KCoreK = 3

  /** q_graph_stress: source-sample size (the [[StressSources]] smallest
    * node ids — deterministic, no salt needed) and the BFS horizon. Both
    * are DECLARED constants (the ktruss/labelprop bounded-iteration
    * contract): per-source frontiers are ≤ StressSources·KnnK^level rows
    * by the mutual-KNN degree bound — corpus-size-independent, which is
    * what makes every frontier/level relation legally broadcastable. */
  private[graft] val StressSources = 8
  private[graft] val StressDepth = 3

  /** Undirected mutual-KNN arc relation (both directions, checkpointed) —
    * the stress / ecc-sample shared input. */
  private[ops] def undirectedArcsFor(s: SparkSession, dir: String): DataFrame = {
    val e = mutualKnnEdges(s, dir)
    e.select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true)
  }

  /** The sampled-source BFS-dag forward levels f0..f[[StressDepth]] —
    * factored (r12c3) so q_graph_stress and q_graph_ecc_sample share ONE
    * implementation (and their oracles share [[stressForwardCtes]] — the
    * bpeMergeStagesCte one-text rule). Each level: Σσ frontier expansion
    * over arcs + anti-joins against every earlier level; all small sides
    * are constant-bounded (StressSources·KnnK^level) broadcasts.
    *
    * r15 (optimization): every level is eagerly localCheckpointed. Each
    * level is referenced several times downstream (the later levels'
    * anti-joins, the backward h-chain, the dagEdges fans), and an
    * unmaterialized reference re-expands the WHOLE upstream join subtree
    * per use — the q_graph_edge_stress physical plan measured 906 nodes /
    * 234 exchanges (~77 arcs-scan joins) from this alone; checkpointed
    * it is ~8 arcs joins. The frames are constant-bounded
    * (≤ StressSources·KnnK^level ≤ 64k rows), so the checkpoint jobs are
    * trivially cheap — the pagerank/hits per-round rule in DAG form. */
  private[graft] def bfsDagLevels(arcs: DataFrame): Seq[DataFrame] = {
    val f0 = arcs.select(col("src").as("node")).distinct()
      .orderBy("node").limit(StressSources)
      .select(col("node").as("sp"), col("node"), lit(1L).as("sigma"))
      .localCheckpoint(true)
    def expand(fl: DataFrame): DataFrame =
      broadcast(fl.select(col("sp"), col("node").as("fn"), col("sigma")))
        .join(arcs, col("fn") === col("src"))
        .groupBy(col("sp"), col("dst").as("node"))
        .agg(sum("sigma").as("sigma"))
    def minus(df: DataFrame, earlier: DataFrame*): DataFrame =
      earlier.foldLeft(df)((acc, ex) =>
        acc.join(broadcast(ex.select("sp", "node")), Seq("sp", "node"),
          "left_anti"))
    val f1 = minus(expand(f0), f0).localCheckpoint(true)
    val f2 = minus(expand(f1), f1, f0).localCheckpoint(true)
    val f3 = minus(expand(f2), f2, f1, f0).localCheckpoint(true)
    Seq(f0, f1, f2, f3)
  }

  /** The backward descendant-path sums h1/h2/h3 over the BFS-dag levels —
    * factored (r12c3) so q_graph_stress and q_graph_edge_stress share ONE
    * implementation (oracle twin: [[stressBackwardCtes]]). h_l(v) =
    * Σ_{succ w} (1 + h_{l+1}(w)); each h frame keeps (sp, node, sigma, h). */
  private[graft] def stressBackward(arcs: DataFrame,
      f1: DataFrame, f2: DataFrame, f3: DataFrame): Seq[DataFrame] = {
    def succSum(fl: DataFrame, hNext: DataFrame): DataFrame =
      broadcast(fl.select(col("sp"), col("node").as("vn")))
        .join(arcs, col("vn") === col("src"))
        .join(broadcast(hNext.select(col("sp").as("sp2"),
          col("node").as("wn"), col("h"))),
          col("sp") === col("sp2") && col("dst") === col("wn"))
        .groupBy(col("sp"), col("vn").as("node"))
        .agg(sum(expr("1 + h")).as("hsum"))
    val h3 = f3.withColumn("h", lit(0L))
    val h2 = f2.join(broadcast(succSum(f2, h3)), Seq("sp", "node"), "left")
      .withColumn("h", coalesce(col("hsum"), lit(0L))).drop("hsum")
      .localCheckpoint(true)
    val h1 = f1.join(broadcast(succSum(f1, h2)), Seq("sp", "node"), "left")
      .withColumn("h", coalesce(col("hsum"), lit(0L))).drop("hsum")
      .localCheckpoint(true)
    Seq(h1, h2, h3)
  }

  /** Memoized stress BFS-dag per fixture digest: the shared
    * (arcs, f0..f3, h1..h3) frames all three consumers
    * (q_graph_stress / q_graph_edge_stress / q_graph_ecc_sample) read —
    * the same maintained-index accounting as [[bfsDistFor]] /
    * [[kcoreArcsFor]] (r15 optimization: previously each query call
    * rebuilt the dag, re-running the eager arcs checkpoint plus 6 level
    * jobs per invocation). */
  private[graft] def stressDagFor(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame], Seq[DataFrame]) =
    IndexCache(s, "stressDag", SourceSinkOps.fixtureKey(dir, "lineitem.parquet")) {
      val arcs = undirectedArcsFor(s, dir)
      val fs = bfsDagLevels(arcs)
      val hs = stressBackward(arcs, fs(1), fs(2), fs(3))
      (arcs, fs, hs)
    }

  /** Unroll depth of the k-core ORACLE stages. The engine peels to the
    * FIXPOINT with early exit and refuses non-convergence, so engine ≡
    * oracle exactly when the plain unroll also reaches the fixpoint:
    * measured peel depth (incl. the confirming no-change round) is 2
    * (sf0.001) / 9 (sf0.01) / 4 (sf0.1), so 16 carries margin on every
    * fixture (a deeper fixture fails the hash gate loudly, not silently —
    * the CcIters discipline). */
  private[graft] val KcIters = 16

  /** Engine-side peel round cap (the CcMaxRounds refusal discipline). */
  private[graft] val KcMaxRounds = 50

  /** Mutual-KNN cap for triangle counting: each part keeps its top
    * [[KnnK]] co-purchase neighbors by (support DESC, neighbor id ASC) and
    * an edge survives only if BOTH endpoints keep it (the mutual-KNN graph
    * of the ANN literature). Bounds wedge enumeration at n·K² at any
    * corpus size — the same keep-first-K discipline as MaxBucket/
    * MaxEmbBucket, with the cap and tie-break replayed in the oracle. */
  private[graft] val KnnK = 20

  /** q_graph_rw_sample walk length: one salt-15 hash member per step. */
  private[graft] val RwSteps = 4

  /** Integer scale of the resource-allocation link-prediction score:
    * each shared middle w contributes `RaScale div d(w)` (exact BIGINT on
    * both engines — the replayable analog of the 1/deg(w) RA index; mutual
    * degrees are ≤ [[KnnK]], so each contribution is ≥ RaScale/K and the
    * bounded-wedge sum never overflows). */
  private[graft] val RaScale = 1L << 20

  /** hi/lo split base for the Σd_c² modularity moment — the q_agg_skew
    * replay rule: each DECIMAL partial sum stays < 2^53, so the DOUBLE
    * recombination is exact. d_c² itself must stay < 2^63 ⇒ valid to
    * ~3·10⁹ arcs per community; beyond that pre-divide (the collocations
    * scale rule). */
  private[graft] val ModSplit = 1L << 30

  /** Session-lifetime memo of the (edges, deg) relations per fixture
    * content digest — the graph an operator maintains once, read by both
    * graph queries and every bench/probe rep (the LlmOps.candidateIndexFor
    * rationale: without it each call re-runs the lineitem ⋈ orders
    * distinct). */
  private[graft] def purchaseGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    IndexCache(s, "purchaseGraph", purchaseGraphDigest(dir))(buildPurchaseGraph(s, dir))

  /** The converged-rank relation is memoized too (already materialized by
    * construction — the last fixpoint round's persisted row RDD IS the
    * leaf), keyed like the graph: it's the maintained index a production
    * ranking pipeline serves from, the same accounting as the memoized
    * duplicate-cluster labels (CurationOps.dupClustersFor). */
  private[graft] def pagerankRanksFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "pagerankRanks", purchaseGraphDigest(dir)) {
      val (edges, deg) = purchaseGraph(s, dir)
      pagerankRanks(edges, deg)
    }

  /** Content digest of the purchase graph's two input fixtures. */
  private[ops] def purchaseGraphDigest(dir: String): String =
    SourceSinkOps.fixtureKey(dir, "lineitem.parquet") + "|" +
      SourceSinkOps.fixtureKey(dir, "orders.parquet")

  /** Memoized min-id-source BFS distances per fixture digest. */
  private[graft] def bfsDistFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "bfsDist", SourceSinkOps.fixtureKey(dir, "lineitem.parquet")) {
      val e = mutualKnnEdges(s, dir)
      val arcs = e.select(col("u").as("src"), col("v").as("dst"))
        .union(e.select(col("v").as("src"), col("u").as("dst")))
      val srcRow = arcs.agg(min(col("src"))).head()
      val srcNode = if (srcRow.isNullAt(0)) 0L else srcRow.getLong(0)
      bfsRounds(arcs, srcNode)
    }

  /** Memoized [[KCoreK]]-core arc set per fixture digest — the same
    * maintained-index accounting as the strong-component labels. */
  private[graft] def kcoreArcsFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "kcoreArcs", SourceSinkOps.fixtureKey(dir, "lineitem.parquet")) {
      val e = mutualKnnEdges(s, dir)
      val arcs = e.select(col("u").as("src"), col("v").as("dst"))
        .union(e.select(col("v").as("src"), col("u").as("dst")))
      kcorePeel(arcs, KCoreK)
    }

  /** Iterative k-core peel to the FIXPOINT: each round drops every node
    * whose degree in the CURRENT subgraph is < k, until the arc set stops
    * shrinking. Per round: one map-side-combinable degree count, two
    * node-keyed semi joins (arc-sized shuffles on uniform keys — the peel
    * never enumerates pairs). One Spark JOB per round: the round's arcs are
    * persisted as a row RDD and the convergence checksum (the arc COUNT —
    * strictly decreasing until the fixpoint) is computed in the same
    * action, then rewrapped as a clean leaf (the minLabelRounds shape; the
    * rewrap also cuts the deg-derived lineage that would otherwise trip
    * Spark's ambiguous-self-join check). Non-convergence within
    * `maxRounds` throws (the dupClusters refusal discipline). */
  private[graft] def kcorePeel(arcs0: DataFrame, k: Int,
      maxRounds: Int = KcMaxRounds): DataFrame = {
    val spark = arcs0.sparkSession
    var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    def materialize(df: DataFrame): (DataFrame, Long) = {
      val rdd = df.rdd
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = rdd.count()
      if (prevRdd != null) prevRdd.unpersist(blocking = false)
      prevRdd = rdd
      (spark.createDataFrame(rdd, df.schema), n)
    }
    var (arcs, n) = materialize(arcs0)
    var converged = n == 0L
    var it = 0
    while (!converged && it < maxRounds) {
      val keep = arcs.groupBy("src").agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select(col("src").as("knode"))
      val (next, nextN) = materialize(
        arcs.join(keep, arcs("src") === keep("knode"), "left_semi")
          .join(keep.select(col("knode").as("knode2")),
            arcs("dst") === col("knode2"), "left_semi"))
      converged = nextN == n
      arcs = next
      n = nextN
      it += 1
    }
    if (sys.env.get("SPARK_GRAFT_DEBUG").contains("1"))
      System.err.println(s"[kcore] peel rounds: $it (converged=$converged, arcs=$n)")
    if (!converged)
      throw new IllegalStateException(
        s"k-core peel did not converge in $maxRounds rounds; refusing to " +
          "return a non-core subgraph")
    arcs
  }

  /** Memoized strong-component labels per fixture digest — the same
    * maintained-index accounting as the converged PageRank ranks
    * ([[pagerankRanksFor]]) and the duplicate-cluster labels
    * (CurationOps.dupClustersFor): a production pipeline labels the graph
    * once and serves queries from the labeling, so the bench's warm reps
    * measure the read, and the loop cost is the ×10 probe's cold row. */
  private[graft] def strongComponentsFor(s: SparkSession, dir: String)
      : DataFrame =
    IndexCache(s, "strongComponents", SourceSinkOps.fixtureKey(dir, "lineitem.parquet")) {
      val arcs = copurchaseAdj(s, dir)
        .where(col("n") >= StrongSupport).select("src", "dst")
      minLabelRounds(arcs)
    }

  /** Undirected purchase edges as two directed arcs, node ids unified as
    * 2·custkey (customers) / 2·suppkey+1 (suppliers). Returns (edges, deg),
    * both localCheckpointed: the edge relation is reused by every
    * iteration, and re-deriving it would re-run the lineitem ⋈ orders
    * distinct each time. RDD leaves never auto-broadcast (the round-7
    * rule) — correct here, both relations are graph-sized. */
  private[ops] def buildPurchaseGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e0 = table(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cn"), (col("l_suppkey") * 2 + 1).as("sn"))
      .distinct()
    val edges = e0.select(col("cn").as("src"), col("sn").as("dst"))
      .union(e0.select(col("sn").as("src"), col("cn").as("dst")))
      .localCheckpoint(true)
    val deg = edges.groupBy("src").agg(asLong(count(lit(1))).as("d"))
      .localCheckpoint(true)
    (edges, deg)
  }

  /** Directed co-purchase adjacency `(src part, dst part, support n)`:
    * distinct per-order part sets (basket-capped at [[MaxBasket]] by a
    * replayable rank), per-order pair generation via an order-equi
    * self-join (per-key density bounded by the cap — never corpus-wide
    * pairs), support counts, then both directions. localCheckpointed and
    * memoized per fixture digest: the relation is the graph index both
    * triangle counting and component labeling read. */
  private[graft] def copurchaseAdj(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "copurchaseAdj", SourceSinkOps.fixtureKey(dir, "lineitem.parquet")) {
      import org.apache.spark.sql.expressions.Window
      val e0 = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      // o_orderkey is high-cardinality, so the per-order rank window never
      // funnels into few tasks (the low-cardinality window trap does not
      // apply); the cap bounds the quadratic pair fan-out per order.
      // r14: the pair self-join became basket-collect + HOF combination
      // fan-out — the window already hash-partitions by o, so the
      // collect_list groupBy adds NO exchange (baskets are window-capped
      // at MaxBasket BEFORE collecting — the capBuckets rule), the pair
      // stream is generated MAP-SIDE into the (p1, p2) partial agg, and
      // the ~C(basket,2)·#orders intermediate rows never cross the join
      // machinery. Measured cold (copurchase + mutual-KNN via
      // q_graph_triangles): ×30 a wash (17.0 vs 13.6 s, the box band);
      // ×100 the self-join OOMed the default 8g heap and took 233.9 s at
      // 64g — the basket shape runs 38 s at 8g (113.5 s cold-cache at
      // 64g). The r5 "self-join wins for many-small buckets" reading
      // inverts once the materialized pair stream dominates memory at
      // scale; also drops the capped localCheckpoint (one consumer now).
      val pairs = e0
        .withColumn("rk",
          row_number().over(Window.partitionBy("o").orderBy("p")))
        .where(col("rk") <= MaxBasket).drop("rk")
        .groupBy("o").agg(sort_array(collect_list(col("p"))).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), y -> " +
            "struct(x AS p1, y AS p2))))")).as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(asLong(count(lit(1))).as("n"))
      pairs.select(col("p1").as("src"), col("p2").as("dst"), col("n"))
        .union(pairs.select(col("p2").as("src"), col("p1").as("dst"), col("n")))
        .localCheckpoint(true)
    }

  /** Memoized RA-contribution adjacency `(m, x, c = RaScale div deg(m))`
    * over the mutual-KNN graph — q_graph_linkpred's index (both wedge
    * sides read it, and bench reps would otherwise rebuild the two
    * checkpoints per call; memoizing dropped the median from the
    * rebuild-bound 1.37 s toward the self-join-bound shape). O(n·K) rows. */
  private[graft] def raContributionsFor(s: SparkSession, dir: String)
      : DataFrame =
    IndexCache(s, "raContributions", SourceSinkOps.fixtureKey(dir, "lineitem.parquet")) {
      val e = mutualKnnEdges(s, dir)
      val adj = e.select(col("u").as("m"), col("v").as("x"))
        .union(e.select(col("v").as("m"), col("u").as("x")))
        .localCheckpoint(true)
      val deg = adj.groupBy("m").agg(asLong(count(lit(1))).as("d"))
      adj.join(deg, "m")
        .select(col("m"), col("x"), expr(s"$RaScale div d").as("c"))
        .localCheckpoint(true)
    }

  /** Mutual-KNN edge set `(u, v)` with u < v over the co-purchase
    * adjacency: each part keeps its top-[[KnnK]] neighbors by
    * (support DESC, id ASC); an edge survives only if BOTH endpoints keep
    * it. localCheckpointed + memoized per fixture digest — triangles AND
    * node-similarity both read it (≤ n·K/2 rows at any corpus size). */
  private[graft] def mutualKnnEdges(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "mutualKnnEdges", SourceSinkOps.fixtureKey(dir, "lineitem.parquet")) {
      import org.apache.spark.sql.expressions.Window
      val r = copurchaseAdj(s, dir)
        .withColumn("rk", row_number().over(
          Window.partitionBy("src").orderBy(desc("n"), asc("dst"))))
        .where(col("rk") <= KnnK).select("src", "dst")
      r.as("a").join(r.as("b"),
          col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
        .where(col("a.src") < col("a.dst"))
        .select(col("a.src").as("u"), col("a.dst").as("v"))
        .localCheckpoint(true)
    }

  /** Single-source BFS hop distances over arbitrary arcs, as Bellman-Ford
    * relax rounds to the FIXPOINT — the [[minLabelRounds]] shape with
    * (d+1) messages: every node starts at [[BfsInf]] except the source at
    * 0, each round takes `least(d, min over in-neighbors d+1)` via one
    * arc-sized message join + map-side-combinable min + node-sized rejoin
    * (the union+min shape is deliberately avoided — Spark 4.1's
    * UnionBase.rewriteConstraints trap). One job per round: labels persist
    * as a row RDD with the (count, exact-BigInt-sum) convergence checksum
    * computed in the same action. Returns (node, d); unreached nodes keep
    * [[BfsInf]]. */
  private[graft] def bfsRounds(arcs: DataFrame, srcNode: Long,
      maxRounds: Int = CcMaxRounds): DataFrame = {
    val spark = arcs.sparkSession
    var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    def materialize(df: DataFrame): (DataFrame, BigInt) = {
      val rdd = df.rdd
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val s = rdd.mapPartitions { it =>
        var acc = BigInt(0); it.foreach(r => acc += r.getLong(1)); Iterator(acc)
      }.fold(BigInt(0))(_ + _)
      if (prevRdd != null) prevRdd.unpersist(blocking = false)
      prevRdd = rdd
      (spark.createDataFrame(rdd, df.schema), s)
    }
    var (dist, checksum) = materialize(
      arcs.select(col("src").as("node")).distinct()
        .withColumn("d",
          when(col("node") === srcNode, 0L).otherwise(BfsInf)))
    var converged = dist.isEmpty
    var it = 0
    while (!converged && it < maxRounds) {
      val msg = arcs.join(dist, arcs("src") === dist("node"))
        .groupBy(arcs("dst").as("mnode")).agg(min(col("d") + 1L).as("m"))
      val (next, nextSum) = materialize(
        dist.join(msg, dist("node") === msg("mnode"))
          .select(col("node"), least(col("d"), col("m")).as("d")))
      dist = next
      converged = nextSum == checksum
      checksum = nextSum
      it += 1
    }
    if (sys.env.get("SPARK_GRAFT_DEBUG").contains("1"))
      System.err.println(s"[bfs] relax rounds: $it (converged=$converged)")
    if (!converged)
      throw new IllegalStateException(
        s"BFS relaxation did not converge in $maxRounds rounds; refusing " +
          "to return non-fixpoint distances")
    dist
  }

  /** Min-label FIXPOINT over arbitrary undirected arcs — returns
    * `(node, lab)` with lab = the component's min node id. Per round:
    * lab(v) ← min(lab(v), min over in-neighbors' labels) — one arc-sized
    * message join (one fixed-width long per arc), one map-side-combinable
    * min, one node-sized rejoin, all on key-uniform shuffle keys.
    *
    * Each round is ONE Spark job: the round's labels are persisted as a
    * row RDD and the fixpoint checksum (exact BigInt label sum — labels
    * are monotone non-increasing, the dupClusters test) is computed in the
    * same materializing action, then the RDD is rewrapped as a clean leaf.
    * Early exit at the fixpoint: converged labels are invariant under
    * further rounds, so the result equals the oracle's [[CcIters]]-round
    * plain unroll whenever that unroll also converges. Non-convergence
    * within `maxRounds` throws (the dupClusters refusal discipline). */
  private[graft] def minLabelRounds(arcs: DataFrame,
      maxRounds: Int = CcMaxRounds): DataFrame = {
    val spark = arcs.sparkSession
    // one JOB per round: materialize the round's labels by PERSISTING the
    // row RDD and computing the convergence checksum in the same action
    // (sum of labels, exact BigInt — the dupClusters fixpoint test), then
    // rewrap the persisted RDD as a clean DataFrame leaf. localCheckpoint +
    // a separate agg would pay the local job-latency floor twice per round
    // (measured ~0.25 s/job × rounds — the dominant cost of this query).
    var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    def materialize(df: DataFrame): (DataFrame, BigInt) = {
      val rdd = df.rdd
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val s = rdd.mapPartitions { it =>
        var acc = BigInt(0); it.foreach(r => acc += r.getLong(1)); Iterator(acc)
      }.fold(BigInt(0))(_ + _)
      if (prevRdd != null) prevRdd.unpersist(blocking = false)
      prevRdd = rdd
      (spark.createDataFrame(rdd, df.schema), s)
    }
    var (lab, checksum) = materialize(
      arcs.select(col("src").as("node")).distinct()
        .withColumn("lab", col("node")))
    var converged = lab.isEmpty // empty graph: nothing to propagate
    var it = 0
    while (!converged && it < maxRounds) {
      // PLAIN relax via message-agg + least-rejoin. Two shapes were tried
      // and rejected here: the union+min relax trips
      // UnionBase.rewriteConstraints on Spark 4.1 ("key not found:
      // node#n"), and pointer-jumping (lab ∘ lab) is a HOT-KEY JOIN near
      // convergence — every node's label approaches the component min, so
      // the composition self-join funnels a giant component through one
      // task (measured 1.7× SLOWER than plain rounds at ×10). Plain
      // rounds keep every shuffle key-uniform.
      val msg = arcs.join(lab, arcs("src") === lab("node"))
        .groupBy(arcs("dst").as("mnode")).agg(min(col("lab")).as("m"))
      val (next, nextSum) = materialize(
        lab.join(msg, lab("node") === msg("mnode"))
          .select(col("node"), least(col("lab"), col("m")).as("lab")))
      lab = next
      converged = nextSum == checksum
      checksum = nextSum
      it += 1
    }
    if (sys.env.get("SPARK_GRAFT_DEBUG").contains("1"))
      System.err.println(s"[concomp] relax rounds: $it (converged=$converged)")
    if (!converged)
      throw new IllegalStateException(
        s"min-label propagation did not converge in $maxRounds rounds " +
          "(component diameter exceeds the cap); refusing to return " +
          "non-component labels")
    lab
  }

  /** Damped integer PageRank converged to the quantized LIMIT CYCLE over
    * arbitrary `(src, dst)` arcs + `(src, d)` degrees (both expected
    * checkpointed) — exposed for [[graft.Pipelines]]. Returns
    * `(node_id, r)`.
    *
    * Convergence contract: the floor-quantized damped map has no exact
    * integer fixpoint in general — measured on every fixture, it settles
    * into a PERIOD-2 limit cycle (a constant Σ|r_k − r_{k−1}| of a few
    * thousand units spread over all nodes, i.e. low-digit flicker).
    * Because the map is deterministic, a single observed equality
    * r_k = r_{k−2} proves the cycle: r_{k+1} = f(r_k) = f(r_{k−2}) =
    * r_{k−1} forever after. The reported rank is the elementwise MIN of
    * the two cycle states — canonical (parity-independent), exact, and
    * within one flickering low digit of either state. A true fixpoint is
    * the period-1 special case (min of two equal states). The oracle
    * unrolls [[PrIters]] plain rounds and takes `least(r_{K−1}, r_K)`:
    * both states are in-cycle for any K ≥ entry depth + 1, so the unroll
    * replays the loop bit-exactly (the CcIters margin discipline — a
    * fixture entering the cycle later fails the hash gate loudly).
    * Non-convergence within `maxRounds` (a period > 2 cycle) throws — the
    * dupClusters refusal discipline.
    *
    * Per iteration: one join of the rank relation against deg (node-sized
    * SMJ), one join of the edge relation against the per-src contribution
    * (the message-passing shuffle — one fixed-width long per edge), one
    * map-side-combinable sum on dst, then the damped update rejoined
    * against the carried state so the round's EXACT Σ|r_k − r_{k−2}| rides
    * the same materializing action (the minLabelRounds one-job-per-round
    * shape). Every node has an in-edge (undirected construction), so the
    * damping term never needs a left-join backfill. */
  private[graft] def pagerankRanks(edges: DataFrame, deg: DataFrame,
      maxRounds: Int = PrMaxRounds): DataFrame = {
    val spark = edges.sparkSession
    var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    // one JOB per round: persist the round's (node_id, r, rp, dl) rows and
    // fold the cycle-detection sum in the same action, then rewrap as a
    // clean leaf (also cuts the deg-derived lineage that would otherwise
    // trip the ambiguous-self-join check — the q_llm_dup_clusters pattern).
    // Unlike the ≤12-round sibling loops, this one runs ~90 rounds, deep
    // enough that plain persist() overflows the stack serializing the
    // accumulated RDD lineage — localCheckpoint() TRUNCATES lineage at the
    // materializing action, keeping the per-round object graph constant.
    def materialize(df: DataFrame): (DataFrame, BigInt) = {
      val rdd = df.rdd
      rdd.localCheckpoint()
      val s = rdd.mapPartitions { it =>
        var acc = BigInt(0); it.foreach(r => acc += r.getLong(3)); Iterator(acc)
      }.fold(BigInt(0))(_ + _)
      if (prevRdd != null) prevRdd.unpersist(blocking = false)
      prevRdd = rdd
      (spark.createDataFrame(rdd, df.schema), s)
    }
    // state rows carry (node_id, r = r_{k}, rp = r_{k-1}, dl); rp seeds at
    // -1 (impossible rank) so the cycle test cannot fire before round 2
    var (state, _) = materialize(
      deg.select(col("src").as("node_id"), lit(PrScale).as("r"),
        lit(-1L).as("rp"), lit(1L).as("dl")))
    var converged = state.isEmpty // empty graph: nothing to rank
    var it = 0
    while (!converged && it < maxRounds) {
      val contrib = state.join(deg, state("node_id") === deg("src"))
        .select(deg("src").as("csrc"), expr("r div d").as("cb"))
      val msg = edges.join(contrib, edges("src") === contrib("csrc"))
        .groupBy(col("dst")).agg(sum(col("cb")).as("m"))
      val (next, dsum) = materialize(
        state.join(msg, state("node_id") === msg("dst"))
          .withColumn("r2", expr(s"(${15 * PrScale} + 85 * m) div 100"))
          .select(col("node_id"), col("r2").as("r"), col("r").as("rp"),
            abs(col("r2") - col("rp")).as("dl")))
      state = next
      converged = dsum == 0 // r_k == r_{k-2} elementwise: cycle proven
      it += 1
      if (sys.env.get("SPARK_GRAFT_DEBUG").contains("2"))
        System.err.println(s"[pagerank] round $it dsum2=$dsum")
    }
    if (sys.env.get("SPARK_GRAFT_DEBUG").contains("1"))
      System.err.println(s"[pagerank] rounds: $it (converged=$converged)")
    if (!converged)
      throw new IllegalStateException(
        s"PageRank did not reach its period-<=2 limit cycle in $maxRounds " +
          "rounds; refusing to return unconverged ranks")
    state.select(col("node_id"), least(col("r"), col("rp")).as("r"))
  }

  private[graft] def pagerank(s: SparkSession, dir: String): DataFrame = {
    pagerankRanksFor(s, dir).select(col("node_id"),
      when(col("node_id") % 2 === 0, "customer").otherwise("supplier")
        .as("node_type"),
      col("r").as("pr"))
  }

  /** q_graph_labelprop: synchronous label-propagation rounds — FIXED
    * iteration count (the ktruss bounded-iteration contract: both
    * engines run exactly the unrolled stages; LP famously oscillates
    * under synchronous updates, so a fixpoint contract would be
    * ill-defined anyway). Tie-break: among max-frequency neighbor
    * labels, the SMALLEST label wins — a total order, hash-gate safe. */
  private[graft] val LpIters = 4

  /** Synchronous label propagation over directed arcs: per round every
    * node adopts the most frequent label among its in-neighbors
    * (smallest label on ties, via max(struct(count, −label))). One
    * shuffled arc⋈label join + two hash aggs per round; src/dst keys
    * stay uniform even near convergence (unlike min-label pointer
    * jumping, the counts concentrate in VALUE space, not key space —
    * the r9 hot-key note does not bite). Per-round localCheckpoint cuts
    * the lineage. */
  private[ops] def labelPropRounds(s: SparkSession, arcs0: DataFrame): DataFrame = {
    val arcs = arcs0.localCheckpoint(true)
    var lab = arcs.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
      .localCheckpoint(true)
    for (_ <- 1 to LpIters) {
      val msg = arcs.join(lab, col("dst") === col("node"))
        .select(col("src"), col("lab"))
      val cnt = msg.groupBy("src", "lab").agg(count(lit(1)).as("c"))
      lab = cnt.groupBy("src")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("lab"))
        .localCheckpoint(true)
    }
    lab
  }

  /** q_graph_ktruss: peeling rounds and the survival support (k − 2 with
    * k = 4: every surviving edge must sit in ≥ 2 triangles of the
    * surviving subgraph). BOUNDED peeling is the declared contract — both
    * engines run exactly [[KtRounds]] rounds (a fixpoint run would need
    * convergence detection the oracle can't express without unrolling to
    * an unknown depth; the per-round report shows how fast the edge set
    * stabilizes). */
  private[graft] val KtRounds = 3
  private[graft] val KtSupport = 2

  /** Bounded k-truss peeling over an oriented (u < v) edge relation: per
    * round, per-edge triangle support via the shared wedge join (n·K²
    * bounded), edges below [[KtSupport]] peel off, one report row per
    * round. Two jobs per round (stats agg + next-edge-set checkpoint off
    * one persisted support relation — the fused-materialization
    * discipline); per-round localCheckpoint cuts the lineage like every
    * iterative graph loop here. Round stats are a handful of longs —
    * driver-side assembly is the labelSum discipline, not a collect of
    * data rows. */
  private[ops] def ktrussRounds(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    var e = e0.select("u", "v")
    val stats =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long)]
    for (r <- 1 to KtRounds) {
      val tri = e.as("e1").join(e.as("e2"),
          col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
        .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
        .join(e.as("e3"), col("y") === col("e3.u") && col("z") === col("e3.v"))
        .select("x", "y", "z")
      val sup = tri.select(col("x").as("u"), col("y").as("v"))
        .union(tri.select(col("x").as("u"), col("z").as("v")))
        .union(tri.select(col("y").as("u"), col("z").as("v")))
        .groupBy("u", "v").agg(count(lit(1)).as("sp"))
      val j = e.join(sup, Seq("u", "v"), "left")
        .withColumn("sp", coalesce(col("sp"), lit(0L)))
        .persist()
      val st = j.agg(count(lit(1)), sum("sp"), max("sp"),
        sum(when(col("sp") >= KtSupport, 1L).otherwise(0L))).collect().head
      val nIn = st.getLong(0)
      val sSum = if (st.isNullAt(1)) 0L else st.getLong(1)
      val mx = if (st.isNullAt(2)) 0L else st.getLong(2)
      val nKept = if (st.isNullAt(3)) 0L else st.getLong(3)
      stats += ((r.toLong, nIn, sSum / 3, mx, nKept, nIn - nKept))
      e = j.where(col("sp") >= KtSupport).select("u", "v").localCheckpoint(true)
      j.unpersist()
    }
    stats.toSeq
      .toDF("round", "n_edges_in", "n_tri", "max_support", "n_kept", "n_dropped")
  }

  /** Per-node triangle participation counts `(p, n_tri)` over oriented
    * mutual-KNN edges — the wedge join + closing-edge shape shared by
    * q_graph_triangles and q_graph_clustercoef. Wedge work is bounded at
    * n·K² at any corpus size (the keep-first-K discipline). */
  private[ops] def trianglesPerNode(e: DataFrame): DataFrame = {
    val tri = e.as("e1").join(e.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
      .join(e.as("e3"), col("y") === col("e3.u") && col("z") === col("e3.v"))
      .select("x", "y", "z")
    tri.select(col("x").as("p"))
      .union(tri.select(col("y").as("p")))
      .union(tri.select(col("z").as("p")))
      .groupBy("p").agg(asLong(count(lit(1))).as("n_tri"))
  }

  /** Shared clustering-coefficient projection over (n_tri, degree) —
    * ONE formula string; 2·n_tri and deg·(deg−1) are exact BIGINTs
    * (degree ≤ KnnK), then one IEEE-exact double division. */
  private[ops] val clusterCoefFormula =
    "CAST(2 * n_tri AS DOUBLE) / (degree * (degree - 1)) AS coef"

  /** Shared degree-assortativity projection over (m, s1, s2, sp) — the
    * Newman degree-correlation coefficient r of an undirected edge list
    * (s1 = Σ(dᵤ+dᵥ), s2 = Σ(dᵤ²+dᵥ²), sp = Σdᵤdᵥ). Degrees are ≤ KnnK so
    * every integer sum stays < 2^53; the double chain is one shared
    * string, fixed order. */
  private[ops] val assortativityFormula =
    "(CAST(sp AS DOUBLE) / m - (CAST(s1 AS DOUBLE) / (2 * m)) * (CAST(s1 AS DOUBLE) / (2 * m)))" +
      " / (CAST(s2 AS DOUBLE) / (2 * m) - (CAST(s1 AS DOUBLE) / (2 * m)) * (CAST(s1 AS DOUBLE) / (2 * m)))" +
      " AS assortativity"

  /** Shared modularity projection over (within_arcs, m_arcs, s2hi, s2lo) —
    * Newman's Q = Σ_c (a_c/M − (d_c/M)²) in the algebraic form
    * ΣA/M − Σd_c²/M/M: the two numerator sums are exact BIGINTs (Σd_c²
    * hi/lo-split), so the whole per-community double-sum-order problem
    * disappears and the division chain is IEEE-exact in a fixed order. */
  private[ops] val modularityFormula =
    s"CAST(within_arcs AS DOUBLE) / m_arcs" +
      s" - (s2hi * $ModSplit.0 + s2lo) / m_arcs / m_arcs AS modularity"

  def queries: Seq[(String, Q)] = Seq(
    // PageRank over the purchase graph: who are the most central
    // customers/suppliers by recursive link weight. Top-50 via
    // TakeOrderedAndProject (partial top-k per partition — never a global
    // sort); the full rank relation stays distributed.
    "q_graph_pagerank" -> ((s: SparkSession, dir: String) =>
      pagerank(s, dir).orderBy(desc("pr"), asc("node_id")).limit(50)),

    // Degree profile: node count per (node_type, degree) — the graph-shape
    // report (skew, hubs) an operator reads before running anything
    // iterative. Two map-side-combinable aggs, no joins.
    "q_graph_degree" -> ((s: SparkSession, dir: String) => {
      val (_, deg) = purchaseGraph(s, dir)
      deg.select(
          when(col("src") % 2 === 0, "customer").otherwise("supplier")
            .as("node_type"),
          col("d").as("degree"))
        .groupBy("node_type", "degree")
        .agg(asLong(count(lit(1))).as("n_nodes"))
        .orderBy("node_type", "degree")
    }),

    // Connected components of the STRONG co-purchase graph (parts sharing
    // ≥ StrongSupport orders — the support-1 graph is one giant hairball;
    // thresholding is what yields product families). Engine: plain relax
    // rounds to the fixpoint; oracle: CcIters plain rounds unrolled —
    // identical outputs whenever the unroll converges (spec-pinned against
    // a union-find ground truth). Output: the component size histogram —
    // the report an operator reads to size downstream per-component work.
    "q_graph_concomp" -> ((s: SparkSession, dir: String) => {
      val lab = strongComponentsFor(s, dir)
      lab.groupBy("lab").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(asLong(count(lit(1))).as("n_comps"))
        .select(asLong(col("csize")).as("csize"), col("n_comps"))
        .orderBy("csize")
    }),

    // Label-propagation communities (r12): every node adopts its
    // in-neighbors' most frequent label each round (smallest label on
    // ties), exactly LpIters synchronous rounds in both engines — the
    // frequency-based community signal next to concomp's pure
    // connectivity (on the support-filtered graph LP splits the blob
    // where min-label gives one component per reachability class).
    // Same community-size-histogram readout as q_graph_concomp.
    "q_graph_labelprop" -> ((s: SparkSession, dir: String) => {
      val arcs = copurchaseAdj(s, dir)
        .where(col("n") >= StrongSupport).select("src", "dst")
      labelPropRounds(s, arcs)
        .groupBy("lab").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(asLong(count(lit(1))).as("n_comms"))
        .select(asLong(col("csize")).as("csize"), col("n_comms"))
        .orderBy("csize")
    }),

    // Triangle counts on the mutual-KNN co-purchase graph: each part keeps
    // its top-KnnK neighbors by (support DESC, id ASC), an edge survives
    // only if both endpoints keep it, then oriented wedge join + closing
    // edge. Wedge work is bounded at n·K² at ANY corpus size (the
    // keep-first-K discipline), and the cap + tie-break replay exactly in
    // the oracle. Top-50 parts by triangle participation.
    "q_graph_triangles" -> ((s: SparkSession, dir: String) =>
      trianglesPerNode(mutualKnnEdges(s, dir))
        .select(col("p").as("partkey"), col("n_tri"))
        .orderBy(desc("n_tri"), asc("partkey")).limit(50)),

    // Local clustering coefficient on the mutual-KNN graph: per node,
    // 2·T / (deg·(deg−1)) over its realized neighbor pairs — the
    // community-density signal next to raw triangle counts. Same bounded
    // wedge machinery as q_graph_triangles (n·K² at any corpus size);
    // degree ≤ KnnK, so deg·(deg−1) never overflows and the one double
    // division is IEEE-exact. Zero-triangle nodes report coef 0 (left
    // join, coalesce); nodes of degree < 2 have no defined coefficient
    // and are out of scope.
    "q_graph_clustercoef" -> ((s: SparkSession, dir: String) => {
      val e = mutualKnnEdges(s, dir)
      val tc = trianglesPerNode(e)
      val deg = e.select(col("u").as("p")).union(e.select(col("v").as("p")))
        .groupBy("p").agg(asLong(count(lit(1))).as("degree"))
      deg.where(col("degree") >= 2)
        .join(tc, Seq("p"), "left")
        .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
        .selectExpr("p AS partkey", "degree", "n_tri", clusterCoefFormula)
        .orderBy(desc("coef"), asc("partkey")).limit(50)
    }),

    // k-truss peeling report (r12): per round, every edge's triangle
    // support in the SURVIVING subgraph, edges in < 2 triangles peel off
    // (k = 4) — the edge-level cohesion ladder one step above k-core's
    // node degrees (an edge survives only inside dense neighborhoods,
    // not merely between high-degree nodes). Bounded KtRounds peeling is
    // the declared contract (see ktrussRounds); the report row per round
    // shows the stabilization. Same n·K²-bounded wedge machinery as
    // triangles/clustercoef; two jobs per round off one persisted
    // support relation.
    "q_graph_ktruss" -> ((s: SparkSession, dir: String) =>
      ktrussRounds(s, mutualKnnEdges(s, dir)).orderBy("round")),

    // k-core of the mutual-KNN co-purchase graph: the maximal subgraph
    // where every part keeps ≥ KCoreK surviving neighbors — the dense
    // cohesive product families that survive iterative hub-trim. Engine:
    // peel rounds to the fixpoint (memoized per fixture digest); oracle:
    // KcIters plain rounds unrolled. Output: the in-core degree histogram
    // — the report that sizes per-community downstream work.
    "q_graph_kcore" -> ((s: SparkSession, dir: String) => {
      kcoreArcsFor(s, dir)
        .groupBy("src").agg(asLong(count(lit(1))).as("degree"))
        .groupBy("degree").agg(asLong(count(lit(1))).as("n_nodes"))
        .orderBy("degree")
    }),

    // Degree assortativity of the mutual-KNN graph: Newman's degree-
    // correlation coefficient r over the undirected edge list — positive r
    // means hubs link to hubs (community structure signal the graph family
    // reads next to clustering coefficients). Degrees join onto both edge
    // endpoints (shuffled node-keyed joins — O(#nodes) relation, never
    // broadcast), the corpus collapses in ONE hash agg to four exact
    // BIGINT sums (each < 2^53: degree ≤ KnnK), and r evaluates through
    // one shared formula string. Single-row report.
    "q_graph_assortativity" -> ((s: SparkSession, dir: String) => {
      val e = mutualKnnEdges(s, dir)
      val deg = e.select(col("u").as("p")).union(e.select(col("v").as("p")))
        .groupBy("p").agg(asLong(count(lit(1))).as("d"))
      e.join(deg.select(col("p").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("p").as("v"), col("d").as("dv")), "v")
        .agg(asLong(count(lit(1))).as("m"),
          sum(col("du") + col("dv")).as("s1"),
          sum(col("du") * col("du") + col("dv") * col("dv")).as("s2"),
          sum(col("du") * col("dv")).as("sp"))
        .selectExpr("m", "s1", "s2", "sp", assortativityFormula)
    })
  )

  /** Shared graph CTEs: e0 (distinct purchase pairs), edges, deg, r0.
    * `edges` and `deg` are `AS MATERIALIZED`: every one of the [[PrIters]]
    * unrolled stages references both, and DuckDB's default inlining would
    * re-run the lineitem ⋈ orders distinct per reference (the round-9
    * multiply-referenced-CTE rule — the triangles twin measured 8.7 s from
    * inlining alone). Materialization is the oracle-side analog of the
    * Spark builder's localCheckpoint. */
  private[ops] def graphCte: String =
    s"""e0 AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT 2 * c AS src, 2 * s + 1 AS dst FROM e0
       |  UNION ALL
       |  SELECT 2 * s + 1 AS src, 2 * c AS dst FROM e0),
       |deg AS MATERIALIZED (
       |  SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src)""".stripMargin

  /** Pre-divided per-src contribution joined once: `csrc` fuses the
    * rank ⋈ deg join so each unrolled stage is ONE edges join + agg. Every
    * stage is `AS MATERIALIZED` (the ccStagesCte lesson: a [[PrIters]]-deep
    * inlined chain is pathological to plan and re-runs shared inputs).
    * Generated from the same constants as the Spark loop (single source of
    * truth, the bpeMergeStagesCte pattern). Each `r\$k` stage CASTs back to
    * BIGINT: DuckDB widens `sum(BIGINT)` to HUGEINT and the int128 type
    * would otherwise propagate through every stage into the output column
    * (the §7.4 "computed ints cast to BIGINT on both sides" invariant —
    * values were bit-identical but the driver's type-sensitive hash gate
    * failed on the width; oracle_lint now asserts no HUGEINT outputs). */
  private[ops] def prStagesCte: String =
    (1 to PrIters).map { k =>
      s"""m$k AS MATERIALIZED (
         |  SELECT e.dst AS node_id, sum(r.r // g.d) AS m
         |  FROM edges e JOIN r${k - 1} r ON e.src = r.node_id
         |    JOIN deg g ON e.src = g.src
         |  GROUP BY e.dst),
         |r$k AS MATERIALIZED (
         |  SELECT node_id, CAST((${15 * PrScale} + 85 * m) // 100 AS BIGINT) AS r FROM m$k)""".stripMargin
    }.mkString(",\n")

  /** Shared co-purchase CTEs (e0cp/cap/pr/adj) — generated from the same
    * MaxBasket constant as the Spark builder (single source of truth). */
  private[ops] def copurchaseCte: String =
    s"""e0cp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |cap AS (
       |  SELECT o, p FROM (
       |    SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rk
       |    FROM e0cp)
       |  WHERE rk <= $MaxBasket),
       |pr AS (
       |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS n
       |  FROM cap a JOIN cap b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2),
       |adj AS (
       |  SELECT p1 AS src, p2 AS dst, n FROM pr
       |  UNION ALL
       |  SELECT p2 AS src, p1 AS dst, n FROM pr)""".stripMargin

  /** Shared mutual-KNN CTEs (r, e) over `adj` — generated from the same
    * KnnK constant as [[mutualKnnEdges]]. `e` is `AS MATERIALIZED`: the
    * triangle oracle references it three times and the node-similarity
    * oracle's adjacency twice, and DuckDB's default inlining would re-run
    * the windowed cap + mutual join per reference. */
  private[ops] def mutualKnnCte: String =
    s"""r AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |           row_number() OVER (PARTITION BY src
       |                              ORDER BY n DESC, dst) AS rk
       |    FROM adj)
       |  WHERE rk <= $KnnK),
       |e AS MATERIALIZED (
       |  SELECT a.src AS u, a.dst AS v
       |  FROM r a JOIN r b ON a.src = b.dst AND a.dst = b.src
       |  WHERE a.src < a.dst)""".stripMargin

  /** Shared forward BFS-dag CTE chain (arcs, f0 … f[[StressDepth]]) — ONE
    * text for the q_graph_stress and q_graph_ecc_sample oracles (the
    * bpeMergeStagesCte rule; the Spark twin is [[bfsDagLevels]]). Each
    * f-relation is `AS MATERIALIZED`: later levels anti-join every
    * earlier one, and the backward/readout CTEs re-read them. */
  private[ops] lazy val stressForwardCtes: String = {
    def anti(rel: String, earlier: Seq[String]): String =
      earlier.map(x =>
        s"NOT EXISTS (SELECT 1 FROM $x q WHERE q.sp = $rel.sp AND q.node = $rel.node)")
        .mkString(" AND ")
    s"""arcs AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM e
       |  UNION ALL
       |  SELECT v AS src, u AS dst FROM e),
       |f0 AS MATERIALIZED (
       |  SELECT node AS sp, node, CAST(1 AS BIGINT) AS sigma
       |  FROM (SELECT DISTINCT src AS node FROM arcs
       |        ORDER BY node LIMIT $StressSources)),
       |r1 AS (
       |  SELECT p.sp, a.dst AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
       |  FROM f0 p JOIN arcs a ON a.src = p.node GROUP BY 1, 2),
       |f1 AS MATERIALIZED (SELECT * FROM r1 WHERE ${anti("r1", Seq("f0"))}),
       |r2 AS (
       |  SELECT p.sp, a.dst AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
       |  FROM f1 p JOIN arcs a ON a.src = p.node GROUP BY 1, 2),
       |f2 AS MATERIALIZED (
       |  SELECT * FROM r2 WHERE ${anti("r2", Seq("f1", "f0"))}),
       |r3 AS (
       |  SELECT p.sp, a.dst AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
       |  FROM f2 p JOIN arcs a ON a.src = p.node GROUP BY 1, 2),
       |f3 AS MATERIALIZED (
       |  SELECT * FROM r3 WHERE ${anti("r3", Seq("f2", "f1", "f0"))})""".stripMargin
  }

  /** The backward h-chain over the forward levels — ONE text for the
    * stress and edge-stress oracles (Spark twin: [[stressBackward]]).
    * h1/h2/h3 are `AS MATERIALIZED`: the edge oracle reads each twice
    * (as the v-side of one level and the w-side of the previous). */
  private[ops] lazy val stressBackwardCtes: String =
    s"""h3 AS MATERIALIZED (
       |  SELECT sp, node, sigma, CAST(0 AS BIGINT) AS h FROM f3),
       |sc2 AS (
       |  SELECT v.sp, v.node, CAST(sum(1 + w.h) AS BIGINT) AS hsum
       |  FROM f2 v JOIN arcs a ON a.src = v.node
       |  JOIN h3 w ON w.sp = v.sp AND w.node = a.dst
       |  GROUP BY 1, 2),
       |h2 AS MATERIALIZED (
       |  SELECT f.sp, f.node, f.sigma, coalesce(sc2.hsum, 0) AS h
       |  FROM f2 f LEFT JOIN sc2 USING (sp, node)),
       |sc1 AS (
       |  SELECT v.sp, v.node, CAST(sum(1 + w.h) AS BIGINT) AS hsum
       |  FROM f1 v JOIN arcs a ON a.src = v.node
       |  JOIN h2 w ON w.sp = v.sp AND w.node = a.dst
       |  GROUP BY 1, 2),
       |h1 AS MATERIALIZED (
       |  SELECT f.sp, f.node, f.sigma, coalesce(sc1.hsum, 0) AS h
       |  FROM f1 f LEFT JOIN sc1 USING (sp, node))""".stripMargin

  /** Unrolled PLAIN min-label stages l1 … l[[CcIters]] over `arcs`. The
    * engine runs the same relaxation to the fixpoint with early exit (and
    * refuses non-convergence), so the twin needs only enough rounds for
    * the unroll itself to converge — CcIters=16 vs measured depth ≤ 11
    * ([[minLabelRounds]]). Every stage is
    * `AS MATERIALIZED`: each l_k references l_{k-1} TWICE, so DuckDB's
    * default CTE inlining would expand the chain to 2^K copies of l0
    * (observed as a "too many open files" parquet-reopen storm at K=12) —
    * materialization is the oracle-side analog of the Spark loop's
    * per-iteration localCheckpoint. */
  private[ops] def ccStagesCte: String =
    (1 to CcIters).map { k =>
      s"""m$k AS MATERIALIZED (
         |  SELECT e.dst AS node, min(l.lab) AS m
         |  FROM arcs e JOIN l${k - 1} l ON e.src = l.node
         |  GROUP BY e.dst),
         |l$k AS MATERIALIZED (
         |  SELECT l.node, least(l.lab, m.m) AS lab
         |  FROM l${k - 1} l JOIN m$k m ON l.node = m.node)""".stripMargin
    }.mkString(",\n")

  /** Unrolled k-core peel stages s1 … s[[KcIters]] over `s0`. Every stage
    * is `AS MATERIALIZED`: each s_k references s_{k-1} three times (degree
    * count + two endpoint filters), so DuckDB's default inlining would
    * expand the chain 3^K-fold (the ccStagesCte lesson). */
  private[ops] def kcStagesCte: String =
    (1 to KcIters).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT src, count(*) AS c FROM s${k - 1} GROUP BY src),
         |s$k AS MATERIALIZED (
         |  SELECT t.src, t.dst FROM s${k - 1} t
         |  JOIN d$k a ON t.src = a.src AND a.c >= $KCoreK
         |  JOIN d$k b ON t.dst = b.src AND b.c >= $KCoreK)""".stripMargin
    }.mkString(",\n")

  /** Unrolled BFS relax stages b1 … b[[BfsIters]] over `b0` — ccStagesCte
    * with (d+1) messages; every stage MATERIALIZED (each referenced
    * twice). */
  private[ops] def bfsStagesCte: String =
    (1 to BfsIters).map { k =>
      s"""bm$k AS MATERIALIZED (
         |  SELECT e.dst AS node, min(l.d + 1) AS m
         |  FROM arcs e JOIN b${k - 1} l ON e.src = l.node
         |  GROUP BY e.dst),
         |b$k AS MATERIALIZED (
         |  SELECT l.node, least(l.d, m.m) AS d
         |  FROM b${k - 1} l JOIN bm$k m ON l.node = m.node)""".stripMargin
    }.mkString(",\n")

  /** Unrolled k-truss peeling stages: per round the triangle relation,
    * per-edge support, the support-joined edge relation (kept for the
    * final stats reads), and the surviving edge set. Every multiply-
    * referenced stage is MATERIALIZED (t_r: 3× in the support union;
    * j_r: e_r + stats; e_r: the next round's three self-join sides). */
  private[ops] def ktStagesCte: String = (1 to KtRounds).map { r =>
    s"""t$r AS MATERIALIZED (
       |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
       |  FROM e${r - 1} e1
       |  JOIN e${r - 1} e2 ON e1.u = e2.u AND e1.v < e2.v
       |  JOIN e${r - 1} e3 ON e3.u = e1.v AND e3.v = e2.v),
       |sp$r AS (
       |  SELECT u, v, CAST(count(*) AS BIGINT) AS sp FROM (
       |    SELECT x AS u, y AS v FROM t$r
       |    UNION ALL SELECT x AS u, z AS v FROM t$r
       |    UNION ALL SELECT y AS u, z AS v FROM t$r)
       |  GROUP BY u, v),
       |j$r AS MATERIALIZED (
       |  SELECT ee.u, ee.v, COALESCE(sp$r.sp, 0) AS sp
       |  FROM e${r - 1} ee LEFT JOIN sp$r ON sp$r.u = ee.u AND sp$r.v = ee.v),
       |e$r AS MATERIALIZED (SELECT u, v FROM j$r WHERE sp >= $KtSupport)""".stripMargin
  }.mkString(",\n")

  /** Unrolled synchronous label-propagation stages: per round the
    * in-neighbor label messages, per-(node, label) counts, and the
    * deterministic argmax (count DESC, label ASC). l_k is MATERIALIZED —
    * the next round's join reads it (and the final round the readout). */
  private[ops] def lpStagesCte: String = (1 to LpIters).map { k =>
    s"""m$k AS (
       |  SELECT a.src, l.lab FROM arcs a JOIN l${k - 1} l ON l.node = a.dst),
       |c$k AS (
       |  SELECT src, lab, count(*) AS c FROM m$k GROUP BY src, lab),
       |r$k AS (
       |  SELECT src, lab,
       |         row_number() OVER (PARTITION BY src ORDER BY c DESC, lab ASC) AS rn
       |  FROM c$k),
       |l$k AS MATERIALIZED (SELECT src AS node, lab FROM r$k WHERE rn = 1)""".stripMargin
  }.mkString(",\n")

  /** One stats row per peeling round, read from the materialized j_r. */
  private[ops] def ktStatsSql: String = (1 to KtRounds).map { r =>
    s"""SELECT CAST($r AS BIGINT) AS round,
       |       CAST(count(*) AS BIGINT) AS n_edges_in,
       |       CAST(COALESCE(sum(sp), 0) // 3 AS BIGINT) AS n_tri,
       |       CAST(COALESCE(max(sp), 0) AS BIGINT) AS max_support,
       |       CAST(COALESCE(sum(CASE WHEN sp >= $KtSupport THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept,
       |       CAST(count(*) - COALESCE(sum(CASE WHEN sp >= $KtSupport THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped
       |FROM j$r""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** q_graph_rw_sample twin: [[RwSteps]] unrolled argmin-hash steps over
    * `adj` — generated from the same RwParams constants as the engine. */
  private[ops] def rwSampleOracle: String = {
    val P = graft.functions.ReplayableHash.P
    val steps = (0 until RwSteps).map { t =>
      val (a, b) = graft.functions.ReplayableHash.RwParams(t)
      val prev = if (t == 0) "nodes" else s"s$t"
      val prevCur = if (t == 0) "start" else s"n$t"
      val carryCols = "start" +: (1 to t).map(i => s"n$i")
      val carryOut = carryCols.mkString(", ")
      val carryIn = carryCols.map(c => s"w.$c").mkString(", ")
      s"""s${t + 1} AS (
         |  SELECT $carryOut, n${t + 1} FROM (
         |    SELECT $carryIn, a.dst AS n${t + 1},
         |           row_number() OVER (PARTITION BY w.start
         |             ORDER BY ($a * (a.dst % $P) + $b) % $P, a.dst) AS rn
         |    FROM $prev w JOIN adjm a ON a.src = w.$prevCur) t${t + 1}
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    // adjm: the walk reads the adjacency once per step + once for the
    // node set (5 references) — DuckDB would re-run the basket pair join
    // per reference without MATERIALIZED (the r9 inlining rule)
    s"""WITH $copurchaseCte,
       |adjm AS MATERIALIZED (SELECT src, dst FROM adj),
       |nodes AS (SELECT DISTINCT src AS start FROM adjm),
       |$steps
       |SELECT start, n1, n2, n3, n4,
       |       CAST(len(list_distinct([start, n1, n2, n3, n4])) AS BIGINT) AS n_unique
       |FROM s$RwSteps ORDER BY start""".stripMargin
  }

  def oracle: Seq[(String, String)] = Seq(
    "q_graph_labelprop" ->
      s"""WITH $copurchaseCte,
         |arcs AS MATERIALIZED (SELECT src, dst FROM adj WHERE n >= $StrongSupport),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM arcs),
         |$lpStagesCte,
         |cs AS (SELECT lab, CAST(count(*) AS BIGINT) AS csize
         |       FROM l$LpIters GROUP BY lab)
         |SELECT csize, CAST(count(*) AS BIGINT) AS n_comms
         |FROM cs GROUP BY csize ORDER BY csize""".stripMargin,

    "q_graph_ktruss" ->
      s"""WITH $copurchaseCte,
         |$mutualKnnCte,
         |e0 AS MATERIALIZED (SELECT u, v FROM e),
         |$ktStagesCte
         |SELECT * FROM ($ktStatsSql)
         |ORDER BY round""".stripMargin,

    "q_graph_kcore" ->
      s"""WITH $copurchaseCte,
         |$mutualKnnCte,
         |s0 AS MATERIALIZED (
         |  SELECT u AS src, v AS dst FROM e
         |  UNION ALL
         |  SELECT v AS src, u AS dst FROM e),
         |$kcStagesCte,
         |df AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
         |       FROM s$KcIters GROUP BY src)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM df GROUP BY degree ORDER BY degree""".stripMargin,

    "q_graph_concomp" ->
      s"""WITH $copurchaseCte,
         |arcs AS MATERIALIZED (SELECT src, dst FROM adj WHERE n >= $StrongSupport),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM arcs),
         |$ccStagesCte,
         |c AS (SELECT lab, CAST(count(*) AS BIGINT) AS csize
         |      FROM l$CcIters GROUP BY lab)
         |SELECT csize, CAST(count(*) AS BIGINT) AS n_comps
         |FROM c GROUP BY csize ORDER BY csize""".stripMargin,

    "q_graph_triangles" ->
      s"""WITH $copurchaseCte,
         |$mutualKnnCte,
         |t AS (
         |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM e e1
         |  JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
         |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
         |roles AS (
         |  SELECT x AS p FROM t
         |  UNION ALL SELECT y FROM t
         |  UNION ALL SELECT z FROM t)
         |SELECT p AS partkey, CAST(count(*) AS BIGINT) AS n_tri
         |FROM roles GROUP BY p ORDER BY n_tri DESC, partkey LIMIT 50""".stripMargin,

    "q_graph_clustercoef" ->
      s"""WITH $copurchaseCte,
         |$mutualKnnCte,
         |t AS (
         |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM e e1
         |  JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
         |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
         |roles AS (
         |  SELECT x AS p FROM t
         |  UNION ALL SELECT y FROM t
         |  UNION ALL SELECT z FROM t),
         |tc AS (SELECT p, CAST(count(*) AS BIGINT) AS n_tri
         |       FROM roles GROUP BY p),
         |nd AS (SELECT u AS p FROM e UNION ALL SELECT v AS p FROM e),
         |dg AS (SELECT p, CAST(count(*) AS BIGINT) AS degree
         |       FROM nd GROUP BY p),
         |j AS (
         |  SELECT dg.p AS partkey, dg.degree,
         |         CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_tri
         |  FROM dg LEFT JOIN tc USING (p) WHERE dg.degree >= 2)
         |SELECT partkey, degree, n_tri,
         |       $clusterCoefFormula
         |FROM j ORDER BY coef DESC, partkey LIMIT 50""".stripMargin,

    "q_graph_assortativity" ->
      s"""WITH $copurchaseCte,
         |$mutualKnnCte,
         |na AS (
         |  SELECT u AS p FROM e
         |  UNION ALL
         |  SELECT v AS p FROM e),
         |dg AS MATERIALIZED (
         |  SELECT p, CAST(count(*) AS BIGINT) AS d FROM na GROUP BY p),
         |ag AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |         CAST(sum(du.d + dv.d) AS BIGINT) AS s1,
         |         CAST(sum(du.d * du.d + dv.d * dv.d) AS BIGINT) AS s2,
         |         CAST(sum(du.d * dv.d) AS BIGINT) AS sp
         |  FROM e JOIN dg du ON du.p = e.u JOIN dg dv ON dv.p = e.v)
         |SELECT m, s1, s2, sp, $assortativityFormula
         |FROM ag""".stripMargin,

    // the engine converges to the quantized period-<=2 limit cycle and
    // reports the elementwise MIN of the two cycle states; the twin takes
    // least() of the last two unrolled stages — identical for any unroll
    // depth >= cycle entry + 1 (see PrIters)
    "q_graph_pagerank" ->
      s"""WITH $graphCte,
         |r0 AS (SELECT src AS node_id, CAST($PrScale AS BIGINT) AS r FROM deg),
         |$prStagesCte
         |SELECT a.node_id,
         |  CASE WHEN a.node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
         |  least(a.r, b.r) AS pr
         |FROM r${PrIters - 1} a JOIN r$PrIters b ON a.node_id = b.node_id
         |ORDER BY pr DESC, a.node_id LIMIT 50""".stripMargin,

    "q_graph_degree" ->
      s"""WITH $graphCte
         |SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
         |       d AS degree,
         |       CAST(count(*) AS BIGINT) AS n_nodes
         |FROM deg GROUP BY 1, 2 ORDER BY node_type, degree""".stripMargin
  )
}
