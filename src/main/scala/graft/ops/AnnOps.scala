package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity-search family (SURVEY §2B, split out of LlmOps
  * in r13 — the mega-module split, verdict item 8): brute-force and
  * sign-LSH kNN, IVF (1- and 2-probe), product quantization + ADC, the
  * ANN recall harness, class centroids / dim stats / nearest-class-mean
  * classification, embedding outliers, and the SemDeDup family.
  *
  * The MinHash/SimHash/span/bow TEXT dedup machinery stays in
  * [[LlmOps]]; the inner `import LlmOps._` keeps every moved body
  * textually identical to its pre-split form (zero behavior drift; the
  * DuckDB hash gate pins it).
  */
object AnnOps extends QueryModule {

  import LlmOps._

  private[graft] val MaxEmbBucket = 200

  /** q_llm_ann_recall: probe-set size and recall depth. */
  private[ops] val AnnEvalProbes = 20
  private[ops] val AnnEvalK = 10
  private[graft] val SemDedupTau = 0.4

  /** Deterministic ±1 hyperplane families for the two sign-LSH paths —
    * shared by the Spark queries and their generated SQL twins. Plane dots
    * and cosines over `array<double>` accumulate IEEE doubles in INDEX
    * ORDER on both engines (VectorDot/CosineSimilarity loop left-to-right;
    * the SQL twin folds the products in the same order), and every step is
    * a correctly-rounded IEEE-754 operation, so the values — and with them
    * buckets, filters, and orderings — are bit-identical. That is what lets
    * the float-embedding family be hash-gate oracled at all. */
  private[ops] val SimKnnPlanes: Seq[Seq[Double]] = Seq.tabulate(8, 64) { (p, i) =>
    if (((p * 73856093 + i * 19349663) % 7 + 7) % 7 < 3) -1.0 else 1.0
  }
  private[graft] val NeardupPlanes: Seq[Seq[Double]] = Seq.tabulate(8, 64) { (p, i) =>
    if (((p * 2654435761L + i * 40503) % 5 + 5) % 5 < 2) -1.0 else 1.0
  }

  /** SemDeDup-shaped per-vector dedup verdict for an arbitrary (vec_id,
    * label, emb ARRAY<DOUBLE>) frame — the q_llm_emb_semdedup primitive,
    * exposed for [[graft.Pipelines]]: coarse-partition by sign-LSH cell
    * (capped — the same mega-bucket hygiene as embed_neardup), drop every
    * vector with a lower-id neighbor at cosine >= tau, emit (keep, dup_of).
    * tau defaults to the fixture-calibrated SemDedupTau; real text
    * embeddings would use ~0.95+. */
  private[graft] def semdedupVerdicts(s: SparkSession, emb: DataFrame,
      tau: Double = SemDedupTau,
      nPlanes: Int = NeardupPlanes.length,
      cap: Int = MaxEmbBucket): DataFrame = {
    // nPlanes/cap are spec knobs (LlmSpec's recall probe): plane-PREFIX
    // cells nest, so fewer planes = coarser cells = recall can only rise
    def bucketOf(e: Column): Column =
      NeardupPlanes.take(nPlanes).zipWithIndex.map { case (plane, p) =>
        when(vdot(s)(e, typedlit(plane)) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    val withBucket = capBuckets(
      emb.withColumn("bucket", bucketOf(col("emb"))),
      Seq("bucket"), "vec_id", cap)
    val a = withBucket.select(col("bucket"), col("vec_id").as("id_a"), col("emb").as("emb_a"))
    val b = withBucket.select(col("bucket"), col("vec_id").as("id_b"), col("emb").as("emb_b"))
    val dups = a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b")
        && cosine(s)(col("emb_a"), col("emb_b")) >= tau)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"))
    // dups is GENUINELY bounded: 8 planes → ≤ 2^8 cells, each capped at
    // MaxEmbBucket members, so at most 256·(200−1) verdict rows exist at
    // ANY corpus size — broadcast is legal everywhere (the simhash
    // 2^16-count-side rule, not the dup_clusters O(#docs) trap).
    emb.select(col("vec_id"), col("label"))
      .join(broadcast(dups), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** Multi-probe SemDeDup verdict (q_llm_emb_semdedup_mp): same capped
    * sign-LSH cells as [[semdedupVerdicts]], but each vector ALSO probes
    * the neighboring cell with its WEAKEST plane flipped (argmin |plane·x|,
    * ties to the lowest plane index) — classic multi-probe LSH. Near-dups
    * that straddle a hyperplane do so exactly where the margin is small,
    * so flipping the smallest-margin bit recovers part of the nprobe=1
    * cross-cell miss for one extra bucket row per vector (2× bucket rows,
    * ≤4× pair work — the recall/cost dial, measured in LlmSpec: 0.194 →
    * 0.258 on the sf0.001 ground truth at the fixture tau=0.4, where
    * near-dup cells differ in ~3 of 8 bits on average so one flip is
    * inherently modest; at a production tau≈0.95 the expected bit
    * distance is <1 and the same single flip recovers most misses). All
    * margin
    * comparisons are IEEE-exact on both engines, so the probe cell — and
    * with it the whole verdict — replays in the DuckDB twin. */
  private[graft] def semdedupMultiProbeVerdicts(s: SparkSession,
      emb: DataFrame, tau: Double = SemDedupTau,
      cap: Int = MaxEmbBucket): DataFrame = {
    val n = NeardupPlanes.length
    val dotCols = NeardupPlanes.zipWithIndex.map { case (pl, p) =>
      vdot(s)(col("emb"), typedlit(pl)).as(s"d$p")
    }
    val withDots = emb.select(
      Seq(col("vec_id"), col("emb")) ++ dotCols: _*)
    val bucket = (0 until n)
      .map(p => when(col(s"d$p") > 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _)
    val minAbs = least((0 until n).map(p => abs(col(s"d$p"))): _*)
    val weakestMask = (1 until n)
      .foldLeft(when(abs(col("d0")) === col("minabs"), lit(1L << 0))) {
        (acc, p) => acc.when(abs(col(s"d$p")) === col("minabs"), lit(1L << p))
      }
    val cells = withDots
      .withColumn("minabs", minAbs)
      .withColumn("bucket0", bucket)
      .withColumn("probe", col("bucket0").bitwiseXOR(weakestMask))
      .select(col("vec_id"), col("emb"),
        explode(array(col("bucket0"), col("probe"))).as("bucket"))
    val capped = capBuckets(cells, Seq("bucket"), "vec_id", cap)
    val a = capped.select(col("bucket"), col("vec_id").as("id_a"), col("emb").as("emb_a"))
    val b = capped.select(col("bucket"), col("vec_id").as("id_b"), col("emb").as("emb_b"))
    val dups = a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b")
        && cosine(s)(col("emb_a"), col("emb_b")) >= tau)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"))
    // bounded exactly like the single-probe dups relation (2^8 cells ×
    // cap members, constant at any corpus size) — broadcast stays legal
    emb.select(col("vec_id"), col("label"))
      .join(broadcast(dups), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** Cosine similarity via the codegen'd Catalyst expression
    * (graft.functions.CosineSimilarity) — one fused array pass instead of
    * three `aggregate(zip_with(...))` traversals. */
  private[ops] def cosine(s: SparkSession)(x: Column, y: Column): Column = {
    graft.functions.GraftFunctions.register(s)
    call_function("cosine_sim", x, y)
  }

  /** Dot product via the codegen'd Catalyst expression. */
  private[ops] def vdot(s: SparkSession)(x: Column, y: Column): Column = {
    graft.functions.GraftFunctions.register(s)
    call_function("vector_dot", x, y)
  }

  /** Quantization scale for the IVF index lattice: a float times 2^20 is
    * EXACT (power-of-two exponent shift), and `round` resolves the
    * remaining dyadic .5 ties away from zero on both engines — so the
    * lattice, and everything built from it, replays in SQL. */
  private[graft] val QScale = 1L << 20

  /** q_llm_emb_dim_stats shared projections over (n, qsum, q2hi, q2lo,
    * qmin, qmax) — per-dim mean/variance/range back in float units, each a
    * fixed IEEE chain over exact BIGINT-derived doubles (Σq² recombined
    * from its 2^30 hi/lo split). ONE formula set for both engines. */
  private[ops] val dimStatFormulas: Seq[String] = {
    val mean = "(CAST(qsum AS DOUBLE) / n / 65536.0)"
    Seq(
      s"$mean AS mean_v",
      "(q2hi * 1073741824.0 + q2lo) / n / 65536.0 / 65536.0" +
        s" - $mean * $mean AS var_v",
      "CAST(qmin AS DOUBLE) / 65536.0 AS min_v",
      "CAST(qmax AS DOUBLE) / 65536.0 AS max_v")
  }

  /** embeddings + the quantized index lattice: (vec_id, label, emb, qv). */
  private[graft] def embWithLattice(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("emb"),
        transform(col("embedding"),
          x => round(x.cast("double") * QScale).cast("long")).as("qv"))

  /** Deterministic k-means centroids as a small broadcastable relation
    * (cent_id, cvec) over the QUANTIZED lattice — the real-IVF index-build
    * step, in the "quantized coarse index + exact re-rank" shape real ANN
    * systems use.
    *
    * Init is the K lowest-vec_id lattice vectors (fixed, seedless); each
    * Lloyd iteration assigns every vector to its nearest centroid via a
    * BROADCAST join against the K-row centroid relation (scales to any K,
    * unlike inlining K centroid literals into one expression tree, which
    * stops codegenning past K≈100) and recomputes per-cell SUM vectors
    * with exact BIGINT accumulation per dimension. Cosine assignment is
    * scale-invariant, so the sum vector is equivalent to the mean — no
    * division, no floating/decimal rounding anywhere in the update, hence
    * centroids (and cell boundaries) are bit-deterministic regardless of
    * partitioning AND the whole build replays in DuckDB (exact integer
    * sums; assignment cosines are index-ordered IEEE folds over exactly-
    * converted integers). Empty cells keep their previous centroid.
    * Per-iteration localCheckpoint truncates the lineage (the dupClusters
    * lesson). Magnitudes: |q| ≤ ~2^22 per slot, cell sums ≤ members·2^22 —
    * exact in BIGINT and exactly convertible to double far beyond 10^8
    * vectors per cell.
    */
  private[graft] def kmeansCentroids(s: SparkSession, emb: DataFrame,
      k: Int, iters: Int): DataFrame = {
    var cents = emb.where(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("qv").as("cvec"))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val sums = assignCells(s, emb, cents)
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(col("v")).as("sv")) // exact BIGINT, order-independent
      val newVecs = sums
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
          x => x.getField("sv")).as("svec"))
        .withColumnRenamed("cell", "cent_id")
      cents = cents.join(newVecs, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("svec"), col("cvec")).as("cvec"))
        .localCheckpoint(true)
    }
    cents
  }

  /** (vec_id, emb, qv, label, cell): nearest centroid over the lattice by
    * (cosine DESC, cent_id ASC), via broadcast join + one
    * partial-aggregating hash agg — the corpus is scanned once, never
    * shuffled by the join. */
  private[ops] def assignCells(s: SparkSession, emb: DataFrame,
      cents: DataFrame): DataFrame =
    emb.join(broadcast(cents))
      .select(col("vec_id"), col("emb"), col("qv"), col("label"),
        struct(cosine(s)(col("qv").cast("array<double>"),
            col("cvec").cast("array<double>")).as("sim"),
          (-col("cent_id")).as("neg_id")).as("scored"))
      .groupBy("vec_id")
      .agg(first(col("emb")).as("emb"),     // constant within the group
        first(col("qv")).as("qv"),          // likewise
        first(col("label")).as("label"),
        (-max(col("scored")).getField("neg_id")).as("cell"))

  /** IVF ANN, parameterized on (nprobe, K, Lloyd iterations) — the single
    * implementation behind q_llm_sim_knn_ivf (nprobe=1) and
    * q_llm_sim_knn_ivf2 (nprobe=2), and LlmSpec's K=64/nprobe=4 probe.
    *
    * The probe's nprobe nearest cells come from a driver-side ranking over
    * the K collected centroid rows (an O(K) read of the tiny index
    * relation, same IEEE accumulation order as the codegen'd
    * CosineSimilarity, so the rankings agree — never a corpus pass).
    * Recall rises with nprobe toward brute force at nprobe/K of the
    * full-scan work; nprobe = K searches every cell and IS brute force
    * (LlmSpec pins that identity).
    */
  /** Session-lifetime memo of the IVF centroid relation per (corpus
    * content, K, iters) — the same index-reuse rationale as
    * CurationOps.dupClustersFor: a production ANN serves every query from
    * one built index; rebuilding k-means per query would misstate the
    * engine's query cost as index-build cost. Content-keyed via fixtureKey,
    * so a regenerated embeddings fixture rebuilds. */
  private[ops] def centroidsFor(s: SparkSession, dir: String,
      k: Int, iters: Int): DataFrame =
    IndexCache(s, s"centroids/k=$k/iters=$iters",
        SourceSinkOps.fixtureKey(dir, "embeddings.parquet")) {
      kmeansCentroids(s, embWithLattice(s, dir), k, iters)
    }

  /** Product-quantization geometry: 64-dim embeddings split into
    * [[PqSub]] contiguous subspaces of [[PqSubDims]] dims, each with a
    * [[PqK]]-code codebook from [[PqIters]] Lloyd round(s) of the SAME
    * exact-lattice k-means the IVF index uses — so the whole build
    * replays in DuckDB (integer sum-centroids, index-ordered IEEE
    * assignment cosines). 4×16 codes = 16 bytes/vector at 4 bits/code:
    * the compression shape real billion-vector ANN serves from. */
  private[graft] val PqSub = 4
  private[graft] val PqK = 16
  private[graft] val PqIters = 1
  private[graft] val PqSubDims = 16

  /** q_llm_pq_adc: ADC shortlist depth, and the staged score over the
    * pivoted per-subspace cosine lookups — ONE text per engine, explicit
    * left-associated chain (the bm25 fixed-order rule). The score is
    * Σⱼ cos(qⱼ, centroid_codeⱼ) — per-subspace cosines are SCALE-
    * INVARIANT, which matters because kmeansCentroids stores SUM
    * centroids whose magnitude varies with cell occupancy (a raw
    * dot-product ADC measurably biased toward crowded cells: recall 0). */
  private[graft] val AdcShortlist = 100
  private[graft] val adcScoreFormula: String =
    "((c0 + c1) + c2) + c3 AS adc_cos"

  /** Session memo of the UNION of the four per-subspace codebooks
    * (j, cent_id, cvec) — 64 rows total; the same index-reuse rationale
    * as [[centroidsFor]] (a production PQ serves every encode from one
    * trained codebook set). */
  private[ops] def pqCodebooksFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "pqCodebooks", SourceSinkOps.fixtureKey(dir, "embeddings.parquet")) {
      (0 until PqSub).map { j =>
        val sub = embWithLattice(s, dir).select(
          col("vec_id"), col("label"),
          slice(col("emb"), j * PqSubDims + 1, PqSubDims).as("emb"),
          slice(col("qv"), j * PqSubDims + 1, PqSubDims).as("qv"))
        kmeansCentroids(s, sub, PqK, PqIters).withColumn("j", lit(j))
      }.reduce(_.union(_))
    }

  /** PQ encode shared by q_llm_emb_pq and the ADC search: every vector's
    * argmax-cosine code per subspace — one corpus scan fanned ×PqSub
    * (CPU-only literal-sequence explode), one broadcast join against the
    * 64-row codebook union (RDD leaves ⇒ explicit broadcast, r7 rule),
    * one partial-aggregating hash agg. Returns (vec_id, j, code). */
  private[ops] def pqAssign(s: SparkSession, dir: String): DataFrame = {
    val cb = pqCodebooksFor(s, dir)
    embWithLattice(s, dir)
      .select(col("vec_id"),
        explode(expr(s"sequence(0, ${PqSub - 1})")).as("j"), col("qv"))
      .select(col("vec_id"), col("j"),
        expr(s"slice(qv, 1 + j * $PqSubDims, $PqSubDims)").as("sqv"))
      .join(broadcast(cb), "j")
      .select(col("vec_id"), col("j"),
        struct(cosine(s)(col("sqv").cast("array<double>"),
            col("cvec").cast("array<double>")).as("sim"),
          (-col("cent_id")).as("neg_id")).as("scored"))
      .groupBy("vec_id", "j")
      .agg((-max(col("scored")).getField("neg_id")).as("code"))
  }

  /** Session-lifetime memo of the exact per-label centroid ARRAYS per
    * embeddings fixture digest — both nearest-class-mean consumers
    * (q_llm_emb_classify, q_llm_emb_outliers) read the same #labels-row
    * relation, so the posexplode + two-hash-agg build is one corpus pass,
    * paid once (the candidateIndexFor rationale). Joins against the
    * localCheckpoint'd leaf must hint broadcast() explicitly — RDD leaves
    * have unknown stats (CLAUDE.md r7). */
  private[graft] def centroidArraysFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "centroidArrays", SourceSinkOps.fixtureKey(dir, "embeddings.parquet")) {
      embCentroidArrays(table(s, dir, "embeddings")).localCheckpoint(true)
    }

  /** Per-label exact centroid ARRAYS over an arbitrary (label,
    * embedding ARRAY<FLOAT|DOUBLE>) frame: floats scale exactly by 2^16,
    * sums accumulate as BIGINTs, the mean is one IEEE division. Returns
    * (c_label, cent ARRAY<DOUBLE>) — #labels rows, always broadcastable. */
  private[graft] def embCentroidArrays(emb: DataFrame): DataFrame =
    emb
      .select(col("label").as("c_label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("qx", expr("CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)"))
      .groupBy("c_label", "dim")
      .agg(sum("qx").as("qsum"), count(lit(1)).as("n"))
      .withColumn("c", col("qsum").cast("double") / (col("n") * lit(65536.0)))
      .groupBy("c_label")
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), p -> p.c)")
        .as("cent"))

  /** Nearest-class-mean classification for an arbitrary (vec_id, label,
    * embedding) frame — the q_llm_emb_classify primitive, exposed for
    * [[graft.Pipelines]]: broadcast centroid arrays × one corpus scan,
    * replayable cosine fold, label-tie-break argmax. */
  private[graft] def classifyByCentroids(s: SparkSession, emb: DataFrame,
      cents: Option[DataFrame] = None): DataFrame =
    emb
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("emb"))
      .crossJoin(broadcast(cents.getOrElse(embCentroidArrays(emb))))
      .withColumn("cos", cosine(s)(col("emb"), col("cent")))
      .groupBy("vec_id", "label")
      .agg(expr("max_by(c_label, named_struct('c', cos, 'nl', -c_label))")
        .as("pred_label"),
        max(col("cos")).as("best_cos"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("pred_label").cast("long").as("pred_label"), col("best_cos"))

  private[graft] def ivfTopK(s: SparkSession, dir: String, nprobe: Int,
      k: Int = 8, iters: Int = 2, topK: Int = 10): DataFrame = {
    val emb = embWithLattice(s, dir)
    val cents = centroidsFor(s, dir, k, iters)
    val centRows: Seq[(Long, Seq[Long])] = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
    val probeRow = emb.where(col("vec_id") === 0)
      .select("emb", "qv").head()
    val probe = probeRow.getSeq[Double](0)
    val probeQ = probeRow.getSeq[Long](1).map(_.toDouble)
    // index-order IEEE accumulation — identical to the codegen'd
    // CosineSimilarity and to the oracle's ordered fold
    def cosLocal(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cells = centRows
      .map { case (cid, v) => (cid, cosLocal(probeQ, v.map(_.toDouble))) }
      .sortBy { case (cid, sim) => (-sim, cid) }.take(nprobe).map(_._1)
    assignCells(s, emb.where(col("vec_id") =!= 0), cents)
      .where(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("label"),
        cosine(s)(col("emb"), typedlit(probe)).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(topK)
  }

  private[ops] def ivfQuery(nprobe: Int): Q = (s: SparkSession, dir: String) =>
    ivfTopK(s, dir, nprobe)

  private[graft] def embDouble(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("emb"))


  // ---- SQL twins for the float-embedding family --------------------------
  // Ordered IEEE folds reproduce VectorDot/CosineSimilarity bit-for-bit
  // (see SimKnnPlanes doc). Generated from the same plane constants.

  private[ops] def foldSql(terms: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $terms), (a, b) -> a + b)"

  private[ops] def normSql(v: String): String =
    foldSql(s"list_transform(range(1, len($v) + 1), i -> $v[i] * $v[i])")

  private[ops] def dotSql(x: String, y: String): String =
    foldSql(s"list_transform(range(1, least(len($x), len($y)) + 1), i -> $x[i] * $y[i])")

  private[ops] def cosSql(x: String, y: String): String =
    s"""CASE WHEN ${normSql(x)} = 0 OR ${normSql(y)} = 0 THEN 0.0
       |       ELSE ${dotSql(x, y)} / (sqrt(${normSql(x)}) * sqrt(${normSql(y)})) END""".stripMargin

  private[ops] def planeDotSql(vec: String, plane: Seq[Double]): String = {
    val lit = plane.map(d => if (d < 0) "-1.0" else "1.0").mkString("[", ", ", "]")
    foldSql(s"list_transform(range(1, least(len($vec), ${plane.length}) + 1), i -> $vec[i] * $lit[i])")
  }

  private[ops] def bucketSql(vec: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (pl, p) =>
      s"(CASE WHEN ${planeDotSql(vec, pl)} > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  private[ops] val embCte =
    """e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings)""".stripMargin

  /** Cosine over integer (lattice) lists, cast elementwise to double first
    * — mirrors the engine's `cosine(qv.cast(array<double>), ...)`. */
  private[ops] def cosIntSql(x: String, y: String): String =
    cosSql(s"list_transform($x, v -> CAST(v AS DOUBLE))",
      s"list_transform($y, v -> CAST(v AS DOUBLE))")

  /** Full SQL replay of the quantized-lattice IVF (kmeansCentroids +
    * ivfTopK): exact-dyadic quantization, `iters` Lloyd rounds with exact
    * BIGINT sum-centroids, probe-cell ranking, final-cell assignment, and
    * float re-rank — every float step an index-ordered IEEE fold, every
    * integer step exact, so the whole index build replays bit-for-bit. */
  /** The exact-lattice Lloyd chain (embCte0 → c0 init → `iters` rounds
    * ending at c$iters) — factored (r15) so the IVF oracles and the
    * cluster-quality oracle share ONE builder (the dftAbCtes pattern);
    * composed texts for the existing IVF oracles stay byte-identical. */
  private[ops] def kmeansChainCtes(k: Int, iters: Int, dims: Int): String = {
    def lloydCtes(i: Int): String = {
      val prev = if (i == 0) "c0" else s"c$i"
      s"""a${i + 1} AS (
         |  SELECT vec_id, qv, cell FROM (
         |    SELECT e.vec_id, e.qv, c.cent_id AS cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${cosIntSql("e.qv", "c.cvec")} DESC, c.cent_id ASC) AS rn
         |    FROM e CROSS JOIN $prev c) WHERE rn = 1),
         |s${i + 1} AS (
         |  SELECT cell, d.i, sum(qv[d.i]) AS sv
         |  FROM a${i + 1} CROSS JOIN (SELECT unnest(range(1, $dims + 1)) AS i) d
         |  GROUP BY cell, d.i),
         |v${i + 1} AS (
         |  SELECT cell AS cent_id, list(sv ORDER BY i) AS cvec FROM s${i + 1} GROUP BY cell),
         |c${i + 1} AS (
         |  SELECT p.cent_id, coalesce(n.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN v${i + 1} n USING (cent_id))""".stripMargin
    }
    s"""$embCte0,
       |c0 AS (SELECT vec_id AS cent_id, qv AS cvec FROM e WHERE vec_id < $k),
       |${(0 until iters).map(lloydCtes).mkString(",\n")}""".stripMargin
  }

  private[ops] def ivfOracleSql(nprobe: Int, k: Int = 8, iters: Int = 2,
      dims: Int = 64, topK: Int = 10): String = {
    val cf = s"c$iters"
    s"""WITH ${kmeansChainCtes(k, iters, dims)},
       |p AS (SELECT qv AS pqv, emb AS pemb FROM e WHERE vec_id = 0),
       |pc AS (
       |  SELECT cent_id FROM (
       |    SELECT c.cent_id,
       |           row_number() OVER (ORDER BY ${cosIntSql("p.pqv", "c.cvec")} DESC,
       |                              c.cent_id ASC) AS rn
       |    FROM $cf c CROSS JOIN p) WHERE rn <= $nprobe),
       |af AS (
       |  SELECT vec_id, label, emb, cell FROM (
       |    SELECT e.vec_id, e.label, e.emb, c.cent_id AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosIntSql("e.qv", "c.cvec")} DESC, c.cent_id ASC) AS rn
       |    FROM e CROSS JOIN $cf c WHERE e.vec_id <> 0) WHERE rn = 1)
       |SELECT af.vec_id, af.label, ${cosSql("af.emb", "p.pemb")} AS cos_sim
       |FROM af JOIN pc ON af.cell = pc.cent_id CROSS JOIN p
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT $topK""".stripMargin
  }

  /** Full SQL replay of the PQ build + encode (pqCodebooksFor + the
    * q_llm_emb_pq assignment): per subspace, the identical exact-lattice
    * Lloyd machinery as [[ivfOracleSql]] over the SLICED lattice
    * (DuckDB's 1-based inclusive list slice mirrors Spark's
    * slice(qv, 1+j·16, 16)), then the argmax-cosine encode, occupancy
    * histogram, and joint-code stats. Each pqe slice is MATERIALIZED —
    * it feeds init + one Lloyd round + the final encode (3 references,
    * the r9 inline-reexecution rule). */
  /** The shared PQ CTE chain — embCte0's `e`, the four sliced Lloyd
    * builds, and `asg(vec_id, j, code)` — consumed by [[pqOracleSql]]
    * and [[adcOracleSql]] (the bpeMergeStagesCte one-text rule: the
    * twins cannot drift because there is only one chain). */
  private[ops] def pqChainCtes: String = {
    val per = (0 until PqSub).map { j =>
      val lo = 1 + j * PqSubDims
      val hi = (j + 1) * PqSubDims
      def lloyd(i: Int): String = {
        val prev = s"pqc${j}_$i"
        s"""pqa${j}_${i + 1} AS (
           |  SELECT vec_id, qv, cell FROM (
           |    SELECT e.vec_id, e.qv, c.cent_id AS cell,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${cosIntSql("e.qv", "c.cvec")} DESC, c.cent_id ASC) AS rn
           |    FROM pqe$j e CROSS JOIN $prev c) WHERE rn = 1),
           |pqs${j}_${i + 1} AS (
           |  SELECT cell, d.i, sum(qv[d.i]) AS sv
           |  FROM pqa${j}_${i + 1} CROSS JOIN (SELECT unnest(range(1, $PqSubDims + 1)) AS i) d
           |  GROUP BY cell, d.i),
           |pqv${j}_${i + 1} AS (
           |  SELECT cell AS cent_id, list(sv ORDER BY i) AS cvec FROM pqs${j}_${i + 1} GROUP BY cell),
           |pqc${j}_${i + 1} AS (
           |  SELECT p.cent_id, coalesce(n.cvec, p.cvec) AS cvec
           |  FROM $prev p LEFT JOIN pqv${j}_${i + 1} n USING (cent_id))""".stripMargin
      }
      val cf = s"pqc${j}_$PqIters"
      s"""pqe$j AS MATERIALIZED (SELECT vec_id, qv[$lo:$hi] AS qv FROM e),
         |pqc${j}_0 AS (SELECT vec_id AS cent_id, qv AS cvec FROM pqe$j WHERE vec_id < $PqK),
         |${(0 until PqIters).map(lloyd).mkString(",\n")},
         |pqasg$j AS (
         |  SELECT vec_id, CAST($j AS BIGINT) AS j, code FROM (
         |    SELECT e.vec_id, c.cent_id AS code,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${cosIntSql("e.qv", "c.cvec")} DESC, c.cent_id ASC) AS rn
         |    FROM pqe$j e CROSS JOIN $cf c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$embCte0,
       |$per,
       |asg AS (${(0 until PqSub).map(j => s"SELECT * FROM pqasg$j").mkString(" UNION ALL ")})""".stripMargin
  }

  private[ops] def pqOracleSql: String =
    s"""WITH $pqChainCtes,
       |hist AS (
       |  SELECT j, code, CAST(count(*) AS BIGINT) AS n_vectors
       |  FROM asg GROUP BY j, code),
       |pcodes AS (
       |  SELECT vec_id,
       |         max(CASE WHEN j = 0 THEN code END) AS pc0,
       |         max(CASE WHEN j = 1 THEN code END) AS pc1,
       |         max(CASE WHEN j = 2 THEN code END) AS pc2,
       |         max(CASE WHEN j = 3 THEN code END) AS pc3
       |  FROM asg GROUP BY vec_id),
       |jstat AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_joint_codes,
       |         CAST(max(cell_n) AS BIGINT) AS max_cell
       |  FROM (SELECT ((pc0 * $PqK + pc1) * $PqK + pc2) * $PqK + pc3 AS jc,
       |               count(*) AS cell_n
       |        FROM pcodes GROUP BY 1))
       |SELECT j AS subspace, code, n_vectors, n_joint_codes, max_cell
       |FROM hist CROSS JOIN jstat ORDER BY subspace, code""".stripMargin

  /** Full SQL replay of the two-stage ADC search: the shared PQ chain,
    * the query's 64-entry per-subspace cosine lookup table, the staged
    * fixed-order score, the AdcShortlist cut, exact-cosine rerank,
    * recall@10. */
  private[ops] def adcOracleSql: String = {
    val qslices = (0 until PqSub).map { j =>
      val lo = 1 + j * PqSubDims
      val hi = (j + 1) * PqSubDims
      s"SELECT CAST($j AS BIGINT) AS j, qqv[$lo:$hi] AS qsv FROM q"
    }.mkString(" UNION ALL ")
    val cball = (0 until PqSub).map { j =>
      s"SELECT CAST($j AS BIGINT) AS j, cent_id AS code, cvec FROM pqc${j}_$PqIters"
    }.mkString(" UNION ALL ")
    s"""WITH $pqChainCtes,
       |q AS (SELECT emb AS qemb, qv AS qqv FROM e WHERE vec_id = 0),
       |qs AS ($qslices),
       |cball AS ($cball),
       |tbl AS (
       |  SELECT s.j, c.code,
       |         ${cosIntSql("s.qsv", "c.cvec")} AS cj
       |  FROM qs s JOIN cball c ON c.j = s.j),
       |adcv AS (
       |  SELECT a.vec_id,
       |         max(CASE WHEN a.j = 0 THEN t.cj END) AS c0,
       |         max(CASE WHEN a.j = 1 THEN t.cj END) AS c1,
       |         max(CASE WHEN a.j = 2 THEN t.cj END) AS c2,
       |         max(CASE WHEN a.j = 3 THEN t.cj END) AS c3
       |  FROM asg a JOIN tbl t ON t.j = a.j AND t.code = a.code
       |  WHERE a.vec_id <> 0 GROUP BY a.vec_id),
       |sts AS (SELECT vec_id, $adcScoreFormula FROM adcv),
       |short AS (SELECT vec_id, adc_cos FROM sts
       |          ORDER BY adc_cos DESC, vec_id LIMIT $AdcShortlist),
       |ex AS (SELECT e.vec_id, ${cosSql("e.emb", "q.qemb")} AS exact_cos
       |       FROM e CROSS JOIN q WHERE e.vec_id <> 0),
       |ext AS (SELECT vec_id FROM ex ORDER BY exact_cos DESC, vec_id LIMIT 10),
       |rr AS (SELECT s.vec_id, s.adc_cos, ex.exact_cos
       |       FROM short s JOIN ex USING (vec_id)
       |       ORDER BY ex.exact_cos DESC, s.vec_id LIMIT 10)
       |SELECT CAST(row_number() OVER (ORDER BY exact_cos DESC, vec_id) AS BIGINT) AS rr_rank,
       |       vec_id, adc_cos, exact_cos,
       |       CAST(CASE WHEN vec_id IN (SELECT vec_id FROM ext) THEN 1 ELSE 0 END AS BIGINT) AS hit,
       |       CAST(sum(CASE WHEN vec_id IN (SELECT vec_id FROM ext) THEN 1 ELSE 0 END) OVER () AS DOUBLE) / 10 AS recall_at_10
       |FROM rr
       |ORDER BY rr_rank""".stripMargin
  }

  /** embCte plus the quantized lattice column (the engine's embWithLattice
    * twin): round() resolves dyadic .5 ties away from zero on BOTH engines,
    * and a float times 2^20 is exact, so qv is bit-identical. */
  private[ops] val embCte0 =
    s"""e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
       |         list_transform(embedding,
       |           x -> CAST(round(CAST(x AS DOUBLE) * $QScale) AS BIGINT)) AS qv
       |  FROM embeddings)""".stripMargin

  // ---- q_llm_emb_pca: top principal component by power iteration --------

  /** Fixed power-iteration rounds (the bounded-iteration contract —
    * labelprop/HITS precedent: convergence depth is data-dependent, a
    * fixpoint contract would be un-oracle-able; the report is the
    * K-round iterate by declaration). */
  private[graft] val PcaIters = 6

  /** Per-round contribution quantum: each row's per-dim contribution to
    * C·v is round(xd_i·s·2^20) — an exact BIGINT, so the sum over
    * corpus ROWS is order-free (the one FP-order surface a distributed
    * power iteration has). |c| is guarded ≤ 2^29 ⇒ per-dim sums stay
    * exact to ~2^33 rows; the oracle funnels its HUGEINT sum through a
    * BIGINT cast, which errors loudly past 2^63 (the periodogram
    * discipline). */
  private[graft] val PcaCQ = "1048576e0"

  private[graft] val pcaEvrFormula: String =
    "CASE WHEN trace_var > CAST(0 AS DOUBLE)" +
      " THEN eigenvalue / trace_var ELSE CAST(0 AS DOUBLE) END" +
      " AS explained_var_ratio"

  /** Session-lifetime memo of the 1-row PCA state (marr, varr, nrm,
    * trace_var) per corpus content — the [[centroidsFor]] rationale: the
    * 6-scan power-iteration build serves BOTH the component report
    * (q_llm_emb_pca) and the per-vector projection (q_llm_emb_whiten);
    * rebuilding per query would misstate query cost as build cost. */
  private[graft] def pcaStateFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "pcaState", SourceSinkOps.fixtureKey(dir, "embeddings.parquet")) {
      pcaBuild(s, dir)
    }

  /** Shared whitening projections over (score, nsq, nrm) — residual
    * norm off the PC-1 axis and the eigenvalue-standardized score; ONE
    * formula set in both engines. */
  private[graft] val pcaWhitenFormulas: Seq[String] = Seq(
    "sqrt(greatest(nsq - score * score, CAST(0 AS DOUBLE))) AS resid",
    "CASE WHEN nrm > CAST(0 AS DOUBLE)" +
      " THEN score / sqrt(nrm) ELSE CAST(0 AS DOUBLE) END AS z")

  /** The demeaned per-vector double rows (vec_id, xd) against the
    * state's mean array — rebuilt per consumer scan (the corpus is
    * never materialized; only the 1-row state is). */
  private[graft] def pcaDemeanedRows(s: SparkSession, dir: String,
      state: DataFrame): DataFrame =
    table(s, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q")
      .crossJoin(broadcast(state.select("marr")))
      .selectExpr("vec_id",
        "zip_with(q, marr, (qq, mm) -> CAST(qq AS DOUBLE) / 65536.0 - mm) AS xd")

  private[graft] val pcaGapFormula: String =
    "CASE WHEN eigenvalue1 > CAST(0 AS DOUBLE)" +
      " THEN eigenvalue2 / eigenvalue1 ELSE CAST(0 AS DOUBLE) END" +
      " AS gap_ratio"

  /** Second principal component by deflated power iteration — the same
    * [[PcaIters]]-round loop with a per-round Gram–Schmidt projection
    * at the 1-row assembly stage: w̃ = Cu, w = w̃ − (v₁·w̃)v₁. Projecting
    * the ITERATE (not subtracting λ₁v₁v₁ᵀ) removes the v₁ component
    * EXACTLY even though v₁ is itself a finite-round iterate — the
    * eigenvalue form measured v₁·v₂ ≈ 0.015 leak from v₁'s residual
    * non-eigen-ness; the projection form is orthogonal to FP precision.
    * The corpus pass is IDENTICAL to round one, so the exact-integer
    * row reduction carries over unchanged. Init u₀ alternates ±1
    * (deterministic, generically not parallel to v₁). λ₂/λ₁ is the
    * spectral-gap / intrinsic-dimension readout. */
  private[graft] def pca2StateFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "pca2State", SourceSinkOps.fixtureKey(dir, "embeddings.parquet")) {
      pca2Build(s, dir)
    }

  private def pca2Build(s: SparkSession, dir: String): DataFrame = {
    val st1 = pcaStateFor(s, dir)
    val bx = pcaDemeanedRows(s, dir, st1)
    val v1 = st1.select(col("varr"), col("nrm"))
    var u = st1
      .selectExpr("transform(sequence(0, size(marr) - 1), ii -> " +
        "CAST(CASE WHEN ii % 2 = 0 THEN 1 ELSE -1 END AS DOUBLE)) AS uarr",
        "CAST(0 AS DOUBLE) AS nrm2")
      .localCheckpoint(true)
    for (_ <- 1 to PcaIters) {
      val w = bx.crossJoin(broadcast(u.select("uarr")))
        .selectExpr("vec_id", "xd",
          "aggregate(zip_with(xd, uarr, (a, b) -> a * b)," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS sv")
        .selectExpr("vec_id",
          s"transform(xd, xx -> CAST(round(xx * sv * $PcaCQ) AS BIGINT)) AS cl")
        .where(coalesce(assert_true(
          expr("aggregate(cl, CAST(0 AS BIGINT), (mx, xx) -> " +
            s"greatest(mx, abs(xx))) <= ${Long.MaxValue >> 34}"),
          lit("pca2 guard: quantized contribution too large — per-dim " +
            "integer sums could overflow 2^63; rescale the 2^20 quantum")),
          lit(true)))
        .select(posexplode(col("cl")).as(Seq("i", "c")))
        .groupBy("i").agg(sum("c").as("wsum"), count(lit(1)).as("nn"))
        .selectExpr("i",
          s"CAST(wsum AS DOUBLE) / $PcaCQ / CAST(nn AS DOUBLE) AS wd")
        .agg(sort_array(collect_list(struct(col("i"), col("wd"))))
          .as("ws"))
        .selectExpr("transform(ws, x -> x.wd) AS warr")
      u = w.crossJoin(broadcast(v1))
        .selectExpr("warr", "varr",
          "aggregate(zip_with(varr, warr, (a, b) -> a * b)," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS ld")
        .selectExpr("zip_with(warr, varr, (ww, vv) -> ww - ld * vv) AS wadj")
        .selectExpr("wadj",
          "sqrt(aggregate(transform(wadj, ww -> ww * ww)," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x)) AS nrm2")
        .selectExpr("transform(wadj, ww -> CASE WHEN nrm2 > CAST(0 AS DOUBLE)" +
          " THEN ww / nrm2 ELSE CAST(0 AS DOUBLE) END) AS uarr", "nrm2")
        .localCheckpoint(true)
    }
    u.crossJoin(broadcast(v1.select(col("nrm").as("nrm1"))))
      .localCheckpoint(true) // 1-row state: (uarr, nrm2, nrm1)
  }

  /** The q_llm_emb_pca report off the memoized state. */
  private[graft] def pcaTop(s: SparkSession, dir: String): DataFrame =
    pcaStateFor(s, dir)
      .select(col("nrm").as("eigenvalue"), col("trace_var"),
        posexplode(col("varr")).as(Seq("dim", "loading")))
      .selectExpr(Seq("CAST(dim AS BIGINT) AS dim", "loading",
        "eigenvalue", "trace_var") :+ pcaEvrFormula: _*)
      .orderBy("dim")

  /** Top principal component of the embedding cloud via [[PcaIters]]
    * rounds of power iteration on the covariance action — the whitening
    * / intrinsic-dimension readout an embedding pipeline runs before
    * trusting distances. Replay design: quantized values (round(x·2^16)
    * exact BIGINT) give exact per-dim moments; the demeaned doubles and
    * every per-ROW reduction are index-ordered IEEE folds (the cosine
    * discipline); the per-DIM reduction over corpus rows — the only
    * place FP order would be partition-dependent — is quantized to
    * exact integers ([[PcaCQ]]) so it is order-free. Per-round work is
    * one corpus scan against the broadcast 1-row v (an RDD leaf — the
    * r7 explicit-broadcast rule); nothing corpus-sized is collected or
    * checkpointed, and state between rounds is one 64-double row. */
  private def pcaBuild(s: SparkSession, dir: String): DataFrame = {
    val q0 = table(s, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q")
    val mom = q0.select(posexplode(col("q")).as(Seq("dim", "qi")))
      .withColumn("q2", col("qi") * col("qi"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        asLong(sum("qi")).as("qsum"),
        sum(expr("q2 div 1073741824").cast("decimal(38,0)"))
          .cast("double").as("q2hi"),
        sum(expr("q2 % 1073741824").cast("decimal(38,0)"))
          .cast("double").as("q2lo"))
      .localCheckpoint(true) // ≤ #dims rows; feeds the mean AND the trace
    val mrel = mom.selectExpr(Seq("dim") :+ dimStatFormulas.head: _*)
      .agg(sort_array(collect_list(struct(col("dim"), col("mean_v"))))
        .as("ms"))
      .selectExpr("transform(ms, x -> x.mean_v) AS marr")
      .localCheckpoint(true)
    val trRel = mom.selectExpr(Seq("dim", "n", "qsum") :+
        dimStatFormulas(1): _*)
      .agg(sort_array(collect_list(struct(col("dim"), col("var_v"))))
        .as("vs"))
      .selectExpr("aggregate(transform(vs, x -> x.var_v)," +
        " CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS trace_var")
      .localCheckpoint(true)
    val bx = q0.crossJoin(broadcast(mrel))
      .selectExpr("vec_id",
        "zip_with(q, marr, (qq, mm) -> CAST(qq AS DOUBLE) / 65536.0 - mm) AS xd")
    var v = mrel
      .selectExpr("transform(marr, mm -> CAST(1 AS DOUBLE)) AS varr",
        "CAST(0 AS DOUBLE) AS nrm")
      .localCheckpoint(true)
    for (_ <- 1 to PcaIters) {
      val w = bx.crossJoin(broadcast(v.select("varr")))
        .selectExpr("vec_id", "xd",
          "aggregate(zip_with(xd, varr, (a, b) -> a * b)," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS sv")
        .selectExpr("vec_id",
          s"transform(xd, xx -> CAST(round(xx * sv * $PcaCQ) AS BIGINT)) AS cl")
        .where(coalesce(assert_true(
          expr("aggregate(cl, CAST(0 AS BIGINT), (mx, xx) -> " +
            s"greatest(mx, abs(xx))) <= ${Long.MaxValue >> 34}"),
          lit("pca guard: quantized contribution too large — per-dim " +
            "integer sums could overflow 2^63; rescale the 2^20 quantum")),
          lit(true)))
        .select(posexplode(col("cl")).as(Seq("i", "c")))
        .groupBy("i").agg(sum("c").as("wsum"), count(lit(1)).as("nn"))
        .selectExpr("i",
          s"CAST(wsum AS DOUBLE) / $PcaCQ / CAST(nn AS DOUBLE) AS wd")
      v = w.agg(sort_array(collect_list(struct(col("i"), col("wd"))))
          .as("ws"))
        .selectExpr("transform(ws, x -> x.wd) AS warr")
        .selectExpr("warr",
          "sqrt(aggregate(transform(warr, ww -> ww * ww)," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x)) AS nrm")
        .selectExpr("transform(warr, ww -> CASE WHEN nrm > CAST(0 AS DOUBLE)" +
          " THEN ww / nrm ELSE CAST(0 AS DOUBLE) END) AS varr", "nrm")
        .localCheckpoint(true) // 1-row round state; truncates the chain
    }
    v.crossJoin(broadcast(mrel)).crossJoin(broadcast(trRel))
      .localCheckpoint(true) // 1-row state: (varr, nrm, marr, trace_var)
  }

  /** The generated DuckDB replay chain shared by the q_llm_emb_pca and
    * q_llm_emb_whiten oracles (ONE builder, the twin-body rule) —
    * base/moment CTEs in the dim-stats idiom, then [[PcaIters]]
    * unrolled rounds (the pagerank staged-chain precedent);
    * `q0`/`a`/`bx` are multi-reader ⇒ MATERIALIZED (the r9 CTE rule).
    * Lambda vars avoid `i`/outer-column capture (the r15 tokenHashSql
    * trap). */
  private[ops] def pcaChainCtes: String = pcaChainCtes(matFinal = false)

  /** `matFinal` marks the last v-round MATERIALIZED for the pca2 oracle
    * (its 6 deflation rounds each read v6 — inlined, every reference
    * would re-run the whole first chain); false keeps the pca/whiten
    * oracle texts byte-identical to their pins. */
  private[ops] def pcaChainCtes(matFinal: Boolean): String = {
    val iters = (1 to PcaIters).map { k =>
      val pv = s"v${k - 1}"
      val fm = if (matFinal && k == PcaIters) "MATERIALIZED " else ""
      s"""s$k AS (
         |  SELECT vec_id, xd,
         |         ${foldSql(s"list_transform(range(1, len(xd) + 1), li -> xd[li] * $pv.varr[li])")} AS sv
         |  FROM bx CROSS JOIN $pv),
         |c$k AS (
         |  SELECT vec_id,
         |         list_transform(xd, xx -> CAST(round(xx * sv * $PcaCQ) AS BIGINT)) AS cl
         |  FROM s$k),
         |w$k AS (
         |  SELECT i, CAST(sum(cl[i]) AS BIGINT) AS wsum, count(*) AS nn
         |  FROM (SELECT cl, unnest(generate_series(1, len(cl))) AS i FROM c$k)
         |  GROUP BY i),
         |v$k AS $fm(
         |  SELECT list_transform(warr, ww -> CASE WHEN nrm > CAST(0 AS DOUBLE)
         |           THEN ww / nrm ELSE CAST(0 AS DOUBLE) END) AS varr, nrm
         |  FROM (SELECT warr,
         |               sqrt(${foldSql("list_transform(warr, ww -> ww * ww)")}) AS nrm
         |        FROM (SELECT list(wd ORDER BY i) AS warr
         |              FROM (SELECT i, CAST(wsum AS DOUBLE) / $PcaCQ
         |                              / CAST(nn AS DOUBLE) AS wd
         |                    FROM w$k))))""".stripMargin
    }.mkString(",\n")
    s"""WITH q0 AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |qx AS (
       |  SELECT i, q[i] AS qi
       |  FROM (SELECT q, unnest(generate_series(1, len(q))) AS i FROM q0)),
       |a AS MATERIALIZED (
       |  SELECT CAST(i - 1 AS BIGINT) AS dim, count(*) AS n,
       |         CAST(sum(qi) AS BIGINT) AS qsum,
       |         CAST(sum(CAST(qi * qi // 1073741824 AS DECIMAL(38,0))) AS DOUBLE) AS q2hi,
       |         CAST(sum(CAST(qi * qi % 1073741824 AS DECIMAL(38,0))) AS DOUBLE) AS q2lo
       |  FROM qx GROUP BY i),
       |m AS (
       |  SELECT list(mean_v ORDER BY dim) AS marr
       |  FROM (SELECT dim, ${dimStatFormulas.head} FROM a)),
       |tr AS (
       |  SELECT ${foldSql("list(var_v ORDER BY dim)")} AS trace_var
       |  FROM (SELECT dim, ${dimStatFormulas(1)} FROM a)),
       |bx AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(range(1, len(q) + 1), li -> CAST(q[li] AS DOUBLE) / 65536.0 - marr[li]) AS xd
       |  FROM q0 CROSS JOIN m),
       |v0 AS (
       |  SELECT list_transform(marr, mm -> CAST(1 AS DOUBLE)) AS varr FROM m),
       |$iters""".stripMargin
  }

  private[ops] def pcaOracleSql: String =
    s"""$pcaChainCtes,
       |fin AS (
       |  SELECT unnest(generate_series(1, len(varr))) AS i, varr,
       |         nrm AS eigenvalue, trace_var
       |  FROM v$PcaIters CROSS JOIN tr)
       |SELECT CAST(i - 1 AS BIGINT) AS dim, varr[i] AS loading,
       |       eigenvalue, trace_var,
       |       $pcaEvrFormula
       |FROM fin ORDER BY dim""".stripMargin

  /** The q_llm_emb_pca2 replay: the round-one chain with its final v
    * MATERIALIZED, then [[PcaIters]] deflation rounds. Every u-round is
    * MATERIALIZED (each is read TWICE — the next corpus stage and the
    * next deflation stage — so inlining would re-run subtrees 2^K-fold,
    * the r9 concomp lesson). */
  private[ops] def pca2OracleSql: String = {
    val defl = (1 to PcaIters).map { k =>
      val pu = s"u${k - 1}"
      s"""t$k AS (
         |  SELECT vec_id, xd,
         |         ${foldSql(s"list_transform(range(1, len(xd) + 1), li -> xd[li] * $pu.uarr[li])")} AS sv
         |  FROM bx CROSS JOIN $pu),
         |d$k AS (
         |  SELECT vec_id,
         |         list_transform(xd, xx -> CAST(round(xx * sv * $PcaCQ) AS BIGINT)) AS cl
         |  FROM t$k),
         |e$k AS (
         |  SELECT i, CAST(sum(cl[i]) AS BIGINT) AS wsum, count(*) AS nn
         |  FROM (SELECT cl, unnest(generate_series(1, len(cl))) AS i FROM d$k)
         |  GROUP BY i),
         |u$k AS MATERIALIZED (
         |  SELECT list_transform(wadj, ww -> CASE WHEN nrm2 > CAST(0 AS DOUBLE)
         |           THEN ww / nrm2 ELSE CAST(0 AS DOUBLE) END) AS uarr, nrm2
         |  FROM (SELECT wadj,
         |               sqrt(${foldSql("list_transform(wadj, ww -> ww * ww)")}) AS nrm2
         |        FROM (SELECT list_transform(range(1, len(warr) + 1), li -> warr[li] - ld * varr[li]) AS wadj
         |              FROM (SELECT warr, varr,
         |                           ${foldSql("list_transform(range(1, len(varr) + 1), li -> varr[li] * warr[li])")} AS ld
         |                    FROM (SELECT list(wd ORDER BY i) AS warr
         |                          FROM (SELECT i, CAST(wsum AS DOUBLE) / $PcaCQ
         |                                          / CAST(nn AS DOUBLE) AS wd
         |                                FROM e$k))
         |                    CROSS JOIN v$PcaIters))))""".stripMargin
    }.mkString(",\n")
    s"""${pcaChainCtes(matFinal = true)},
       |u0 AS MATERIALIZED (
       |  SELECT list_transform(range(1, len(marr) + 1), ii -> CAST(CASE WHEN (ii - 1) % 2 = 0 THEN 1 ELSE -1 END AS DOUBLE)) AS uarr
       |  FROM m),
       |$defl,
       |fin2 AS (
       |  SELECT unnest(generate_series(1, len(uarr))) AS i, uarr,
       |         nrm2 AS eigenvalue2, v$PcaIters.nrm AS eigenvalue1
       |  FROM u$PcaIters CROSS JOIN v$PcaIters)
       |SELECT CAST(i - 1 AS BIGINT) AS dim, uarr[i] AS loading2,
       |       eigenvalue2, eigenvalue1,
       |       $pcaGapFormula
       |FROM fin2 ORDER BY dim""".stripMargin
  }

  private[ops] def pcaWhitenOracleSql: String =
    s"""$pcaChainCtes,
       |sc AS (
       |  SELECT vec_id,
       |         ${foldSql(s"list_transform(range(1, len(xd) + 1), li -> xd[li] * v$PcaIters.varr[li])")} AS score,
       |         ${foldSql("list_transform(xd, xx -> xx * xx)")} AS nsq,
       |         nrm
       |  FROM bx CROSS JOIN v$PcaIters)
       |SELECT vec_id, score, ${pcaWhitenFormulas.mkString(",\n       ")}
       |FROM sc ORDER BY vec_id""".stripMargin

  def queries: Seq[(String, Q)] = Seq(

    // Brute-force cosine top-k vs a probe vector — the correctness baseline
    // for similarity search. Oracled since round 4: the fused cosine
    // accumulates in index order with correctly-rounded IEEE ops, so the
    // DuckDB twin's ordered fold reproduces every double bit-for-bit.
    "q_llm_sim_knn" -> ((s: SparkSession, dir: String) => {
      val emb = embDouble(s, dir)
      val probe = emb.where(col("vec_id") === 0)
        .select("emb").head().getSeq[Double](0)
      emb.where(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          cosine(s)(col("emb"), typedlit(probe)).as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(10)
    }),

    // Per-label exact mean embedding (class centroids — the
    // nearest-class-mean building block of an embedding pipeline). Floats
    // scale EXACTLY by 2^16 (a power of two only shifts the exponent), so
    // round() has no ties and the per-dimension accumulation is exact
    // BIGINT; the mean is one IEEE division of exact values — fully
    // SQL-replayable, unlike a naive float sum (order-dependent) or a
    // double→DECIMAL cast (rounding-mode ties, see §7.4). One explode +
    // hash agg, map-side combinable at any corpus size.
    "q_llm_emb_centroid" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)")).as("qsum"))
        .select(col("label").cast("long").as("label"),
          col("dim").cast("long").as("dim"), col("n"),
          (col("qsum").cast("double") / (col("n") * lit(65536.0))).as("centroid"))
        .orderBy("label", "dim")),

    // Embedding dimension health report (r10) — the per-dimension
    // mean/variance/range table an embedding pipeline reads to catch
    // collapsed ("dead") and exploding dimensions before any similarity
    // operator trusts the space. Same exact-quantization discipline as
    // q_llm_emb_centroid (float × 2^16 is exact — a power of two only
    // shifts the exponent — so the per-dim sums are exact BIGINTs);
    // Σq² is hi/lo-split on 2^30 (the q_agg_skew rule; q² < 2^63 holds to
    // |x| < 2^15, far beyond any normalized embedding), variance and the
    // surfaced float bounds evaluate through ONE shared formula set in a
    // fixed IEEE order. One explode + one map-side-combinable hash agg to
    // a #dims-row report at any corpus size.
    "q_llm_emb_dim_stats" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("q", expr("CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)"))
        .withColumn("q2", col("q") * col("q"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          asLong(sum("q")).as("qsum"),
          sum(expr("q2 div 1073741824").cast("decimal(38,0)"))
            .cast("double").as("q2hi"),
          sum(expr("q2 % 1073741824").cast("decimal(38,0)"))
            .cast("double").as("q2lo"),
          asLong(min("q")).as("qmin"), asLong(max("q")).as("qmax"))
        .selectExpr(Seq("CAST(dim AS BIGINT) AS dim", "n") ++
          dimStatFormulas: _*)
        .orderBy("dim")),

    // Top principal component by fixed-round power iteration (r15) —
    // the PCA/whitening prep an embedding pipeline runs before trusting
    // distances: per-dim loadings of the dominant covariance direction,
    // its eigenvalue estimate ‖C·v‖ and the explained-variance ratio
    // against the exact trace. See pcaTop for the replay design (the
    // one partition-order FP surface — the per-dim sum over corpus
    // rows — is integer-quantized, so it is order-free).
    "q_llm_emb_pca" -> ((s: SparkSession, dir: String) => pcaTop(s, dir)),

    // PC-1 projection / whitening readout (r15) — the PCA put to work:
    // per-vector score along the dominant direction (the 1-D
    // curriculum/diversity axis), residual norm off that axis (the
    // denoising/outlier readout: a vector that is ALL top-component is
    // template-like; a huge residual is off-distribution), and the
    // eigenvalue-standardized z. One corpus scan against the broadcast
    // 1-row memoized state; every reduction an index-ordered fold.
    // Second principal component + spectral gap (r15): deflated power
    // iteration with per-round Gram–Schmidt projection off v₁ — λ₂/λ₁
    // is the intrinsic-dimension readout ("is the cloud a line or a
    // plane?") that decides whether PC-1 whitening suffices. The
    // projection happens at the 1-row assembly stage, so the corpus
    // pass is IDENTICAL to round one.
    // Cluster-quality report over the memoized IVF index (r15): per
    // cell its size, label purity (top label share — "did unsupervised
    // cells recover the label structure?") and mean member-to-centroid
    // cosine (cohesion). The per-row cosines are replayable
    // index-ordered folds; their per-CELL mean — an unordered double
    // sum over corpus rows — is quantized to exact BIGINTs first (the
    // PcaCQ discipline), so it is partition-order-free. Completes the
    // clustering story: build (kmeansCentroids) → assign → quality.
    "q_llm_emb_cluster_quality" -> ((s: SparkSession, dir: String) => {
      val cents = centroidsFor(s, dir, k = 8, iters = 2)
      embWithLattice(s, dir).join(broadcast(cents))
        .select(col("vec_id"), col("label"),
          struct(cosine(s)(col("qv").cast("array<double>"),
              col("cvec").cast("array<double>")).as("sim"),
            (-col("cent_id")).as("neg_id")).as("scored"))
        .groupBy("vec_id")
        .agg(first(col("label")).as("label"),
          (-max(col("scored")).getField("neg_id")).as("cell"),
          max(col("scored")).getField("sim").as("cos_self"))
        .selectExpr("cell", "label",
          "CAST(round(cos_self * 1048576e0) AS BIGINT) AS qcos")
        .groupBy("cell", "label")
        .agg(count(lit(1)).as("cnt"), sum("qcos").as("sq"))
        .groupBy("cell")
        .agg(asLong(sum("cnt")).as("n_members"),
          sum("sq").as("sqc"),
          max(struct(col("cnt"), (-col("label")).as("negl"))).as("top"))
        .selectExpr("CAST(cell AS BIGINT) AS cell", "n_members",
          "CAST(-top.negl AS BIGINT) AS top_label",
          "CAST(top.cnt AS BIGINT) AS top_cnt",
          "CAST(top.cnt AS DOUBLE) / CAST(n_members AS DOUBLE) AS purity",
          "CAST(sqc AS DOUBLE) / 1048576e0 / CAST(n_members AS DOUBLE) AS mean_cos")
        .orderBy("cell")
    }),

    "q_llm_emb_pca2" -> ((s: SparkSession, dir: String) =>
      pca2StateFor(s, dir)
        .select(col("nrm2").as("eigenvalue2"), col("nrm1").as("eigenvalue1"),
          posexplode(col("uarr")).as(Seq("dim", "loading2")))
        .selectExpr(Seq("CAST(dim AS BIGINT) AS dim", "loading2",
          "eigenvalue2", "eigenvalue1") :+ pcaGapFormula: _*)
        .orderBy("dim")),

    "q_llm_emb_whiten" -> ((s: SparkSession, dir: String) => {
      val st = pcaStateFor(s, dir)
      pcaDemeanedRows(s, dir, st)
        .crossJoin(broadcast(st.select("varr", "nrm")))
        .selectExpr("vec_id",
          "aggregate(zip_with(xd, varr, (a, b) -> a * b)," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS score",
          "aggregate(transform(xd, xx -> xx * xx)," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS nsq",
          "nrm")
        .selectExpr(Seq("vec_id", "score") ++ pcaWhitenFormulas: _*)
        .orderBy("vec_id")
    }),

    // Nearest-class-mean classification — the capstone of the embedding
    // family: build the exact per-label centroid arrays (same quantized
    // arithmetic as q_llm_emb_centroid), broadcast the tiny #labels-row
    // relation against a single corpus scan, score every vector against
    // every centroid with the replayable index-ordered cosine fold
    // (graft.functions.CosineSimilarity ≡ the oracle's list_reduce), and
    // arg-max with a label tie-break. One corpus scan + one hash agg;
    // centroid build is one explode + two hash aggs.
    "q_llm_emb_classify" -> ((s: SparkSession, dir: String) =>
      classifyByCentroids(s, table(s, dir, "embeddings"),
        Some(centroidArraysFor(s, dir))).orderBy("vec_id")),

    // Scale path for ANN: sign-LSH bucketing (8 deterministic hyperplanes of
    // ±1 weights), brute force only within the probe's bucket. SINGLE corpus
    // scan: the probe's vector + bucket come from a key-pruned point read
    // (vec_id = 0 pushed to the parquet scan), then the corpus is scanned
    // once with the bucket filter evaluated inline — the bucketing expression
    // never runs over the corpus twice.
    "q_llm_sim_knn_lsh" -> ((s: SparkSession, dir: String) => {
      val planes = SimKnnPlanes
      val emb = embDouble(s, dir)
      def bucketOf(e: Column): Column =
        planes.zipWithIndex.map { case (plane, p) =>
          when(vdot(s)(e, typedlit(plane)) > 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _)
      // point read, not a corpus pass: vec_id = 0 is a pushed scan filter
      val probeRow = emb.where(col("vec_id") === 0)
        .select(col("emb"), bucketOf(col("emb")).as("bucket")).head()
      val probe = probeRow.getSeq[Double](0)
      val probeBucket = probeRow.getLong(1)
      emb
        .where(col("vec_id") =!= 0 && bucketOf(col("emb")) === probeBucket)
        .select(col("vec_id"), col("label"),
          cosine(s)(col("emb"), typedlit(probe)).as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(10)
    }),

    // IVF-style ANN: deterministic k-means centroids (seed-id init + 2
    // exact-arithmetic Lloyd iterations) as a broadcast relation, every
    // vector assigned to its nearest centroid, probe searched only within
    // its nprobe nearest cells. One implementation behind both declared
    // queries (nprobe=1 scale path, nprobe=2 recall dial) so they cannot
    // drift; see ivfTopK / kmeansCentroids.
    // Product quantization (r12): encode every vector as PqSub 4-bit
    // codes (argmax cosine against the per-subspace exact-lattice
    // codebooks — one corpus scan fanned ×PqSub CPU-only, one broadcast
    // join against the 64-row codebook union, one partial-aggregating
    // hash agg), then report the per-(subspace, code) occupancy
    // histogram with the joint-code stats (distinct 16-bit PQ codes,
    // largest cell) attached from a 1-row broadcast. The codebook union
    // sits on RDD leaves (stats unknown) — broadcast is explicit (r7
    // rule). code/jc domains are value-bounded (16 and 16^4), so every
    // post-assignment relation is scale-free; the corpus never pairs.
    "q_llm_emb_pq" -> ((s: SparkSession, dir: String) => {
      val asg = pqAssign(s, dir)
      val hist = asg.groupBy("j", "code")
        .agg(asLong(count(lit(1))).as("n_vectors"))
      val jstat = asg.groupBy("vec_id")
        .agg(max(when(col("j") === 0, col("code"))).as("c0"),
          max(when(col("j") === 1, col("code"))).as("c1"),
          max(when(col("j") === 2, col("code"))).as("c2"),
          max(when(col("j") === 3, col("code"))).as("c3"))
        .select(expr(s"((c0 * $PqK + c1) * $PqK + c2) * $PqK + c3").as("jc"))
        .groupBy("jc").agg(count(lit(1)).as("cell_n"))
        .agg(asLong(count(lit(1))).as("n_joint_codes"),
          asLong(max("cell_n")).as("max_cell"))
      hist.crossJoin(broadcast(jstat))
        .select(col("j").cast("long").as("subspace"), col("code"),
          col("n_vectors"), col("n_joint_codes"), col("max_cell"))
        .orderBy("subspace", "code")
    }),

    // PQ asymmetric-distance search (r12): the two-stage read path that
    // makes the PQ codes a real index. Stage 1 — the query vector
    // (vec_id 0, the IVF convention) builds a 64-entry lookup table
    // (cosine of each query SUBvector against each codebook centroid);
    // every corpus vector's ADC score is then FOUR table lookups (join
    // on (j, code)) summed in the staged fixed order — the corpus is
    // never touched by a float vector op at shortlist time, which is the
    // entire point of ADC at billion-vector scale. Stage 2 — the
    // AdcShortlist(=100) best ADC candidates rerank by EXACT cosine (one
    // corpus scan joined against the broadcast shortlist) and the top-10
    // survivors report recall@10 vs the exact top-10: |shortlist ∩
    // exact-10|/10 = 0.4 at the fixture (random near-orthogonal vectors
    // — the semdedup regime note; do NOT "fix" by deepening the list).
    // Windows run over the post-limit ≤10-row relation (the ann_recall
    // explicit-bound discipline).
    "q_llm_pq_adc" -> ((s: SparkSession, dir: String) => {
      val emb = embWithLattice(s, dir)
      val qrow = emb.where(col("vec_id") === 0)
        .select(col("emb").as("qemb"), col("qv").as("qqv")).limit(1)
      val qsub = qrow.select(
        explode(expr(s"sequence(0, ${PqSub - 1})")).as("j"),
        col("qqv"))
        .select(col("j"),
          expr(s"slice(qqv, 1 + j * $PqSubDims, $PqSubDims)").as("qsv"))
      val tbl = pqCodebooksFor(s, dir).join(broadcast(qsub), "j")
        .select(col("j"), col("cent_id").as("code"),
          cosine(s)(col("qsv").cast("array<double>"),
            col("cvec").cast("array<double>")).as("cj"))
      val short = pqAssign(s, dir).where(col("vec_id") =!= 0)
        .join(broadcast(tbl), Seq("j", "code"))
        .groupBy("vec_id")
        .agg(max(when(col("j") === 0, col("cj"))).as("c0"),
          max(when(col("j") === 1, col("cj"))).as("c1"),
          max(when(col("j") === 2, col("cj"))).as("c2"),
          max(when(col("j") === 3, col("cj"))).as("c3"))
        .selectExpr("vec_id", adcScoreFormula)
        .orderBy(desc("adc_cos"), col("vec_id")).limit(AdcShortlist)
      val ex = emb.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(qrow.select(col("qemb"))))
        .select(col("vec_id"),
          cosine(s)(col("emb"), col("qemb")).as("exact_cos"))
      val ext = ex.orderBy(desc("exact_cos"), col("vec_id")).limit(10)
        .select(col("vec_id").as("ex_id"))
      ex.join(broadcast(short), "vec_id")
        .orderBy(desc("exact_cos"), col("vec_id")).limit(10)
        .join(broadcast(ext), col("vec_id") === col("ex_id"), "left")
        .select(col("vec_id"), col("adc_cos"), col("exact_cos"),
          asLong(when(col("ex_id").isNotNull, 1L).otherwise(0L)).as("hit"))
        .limit(10) // provably bounded input for the global windows below
        .withColumn("rr_rank", row_number().over(
          Window.orderBy(desc("exact_cos"), col("vec_id"))).cast("long"))
        .withColumn("recall_at_10",
          sum(col("hit")).over(Window.partitionBy()).cast("double") / 10)
        .select("rr_rank", "vec_id", "adc_cos", "exact_cos", "hit",
          "recall_at_10")
        .orderBy("rr_rank")
    }),

    "q_llm_sim_knn_ivf" -> ivfQuery(nprobe = 1),
    "q_llm_sim_knn_ivf2" -> ivfQuery(nprobe = 2),

    // ANN EVALUATION harness: recall@10 of the sign-LSH search against the
    // exact top-10, measured over the first 20 vectors as probes — the
    // index-quality report an ANN deployment ships next to the index (the
    // spec-level recall pins, promoted to a declared query). Cost model:
    // the probe relation is a BOUNDED broadcast (20 rows), so the whole
    // evaluation is ONE corpus scan fanned ×20 — a sampled-probe audit by
    // construction, never probes × corpus scans; both per-probe top-10
    // ranks carry a rank ≤ 10 filter that triggers WindowGroupLimit
    // (partial top-k before any exchange, the langid shape). Determinism:
    // identical index-ordered cosine folds on both engines, (cs, vec_id)
    // tie-broken ranks.
    "q_llm_ann_recall" -> ((s: SparkSession, dir: String) => {
      val emb = embDouble(s, dir)
      val bucketOf: Column => Column = e =>
        SimKnnPlanes.zipWithIndex.map { case (plane, p) =>
          when(vdot(s)(e, typedlit(plane)) > 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _)
      val b = emb.select(col("vec_id"), col("emb"),
        bucketOf(col("emb")).as("bucket"))
      val probes = b.where(col("vec_id") < AnnEvalProbes)
        .select(col("vec_id").as("probe_id"), col("emb").as("pemb"),
          col("bucket").as("pbucket"))
        .limit(AnnEvalProbes) // no-op on the dense id prefix; PROVES the bound
      val sc = b.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          cosine(s)(col("emb"), col("pemb")).as("cs"),
          (col("bucket") === col("pbucket")).as("inb"))
      def top10(df: DataFrame): DataFrame = df
        .withColumn("rn", row_number().over(
          Window.partitionBy("probe_id").orderBy(desc("cs"), asc("vec_id"))))
        .where(col("rn") <= AnnEvalK)
        .select("probe_id", "vec_id")
      val ex = top10(sc)
      val ls = top10(sc.where(col("inb")))
      val hits = ex.join(ls, Seq("probe_id", "vec_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
      val lsn = ls.groupBy("probe_id").agg(count(lit(1)).as("n_lsh"))
      ex.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
        .join(broadcast(lsn), Seq("probe_id"), "left")
        .join(broadcast(hits), Seq("probe_id"), "left")
        .select(col("probe_id"),
          asLong(col("n_exact")).as("n_exact"),
          asLong(coalesce(col("n_lsh"), lit(0L))).as("n_lsh"),
          asLong(coalesce(col("n_hits"), lit(0L))).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_exact"))
            .as("recall"))
        .orderBy("probe_id")
    }),

    // Embedding-cosine near-dup: sign-LSH bucket join, cosine within bucket
    // (fully oracled since round 4 — buckets, cap, and pair cosines replay).
    "q_llm_embed_neardup" -> ((s: SparkSession, dir: String) => {
      val planes = NeardupPlanes
      val emb = embDouble(s, dir)
      def bucketOf(e: Column): Column =
        planes.zipWithIndex.map { case (plane, p) =>
          when(vdot(s)(e, typedlit(plane)) > 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _)
      // same mega-bucket hygiene as the MinHash path: a degenerate bucket
      // (duplicate-heavy corpora) would otherwise go quadratic (SCALING.md)
      val withBucket = capBuckets(
        emb.withColumn("bucket", bucketOf(col("emb"))),
        Seq("bucket"), "vec_id", MaxEmbBucket)
      val a = withBucket.select(col("bucket"), col("vec_id").as("id_a"), col("emb").as("emb_a"))
      val b = withBucket.select(col("bucket"), col("vec_id").as("id_b"), col("emb").as("emb_b"))
      a.join(b, Seq("bucket"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), cosine(s)(col("emb_a"), col("emb_b")).as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("id_a"), asc("id_b"))
        .limit(100)
    }),

    // SemDeDup-shaped embedding dedup DECISION: coarse-partition the
    // corpus (sign-LSH cell — the same capped bucket discipline as
    // embed_neardup; SemDeDup proper uses k-means cells, and either
    // coarse index bounds the pairwise stage), then within each cell drop
    // every vector that has a lower-id neighbor at cosine >= tau, keeping
    // the lowest id per duplicate group. Emits the per-vector verdict
    // (keep, dup_of) — the relation a curation pipeline joins on to
    // materialize the deduped corpus. tau = 0.4 is corpus-calibrated: the
    // fixture's near-dup cosine mass sits at 0.4-0.5 (real text
    // embeddings would use ~0.95+); the verdict still exercises the full
    // candidate/verify/argmin machinery at every scale.
    "q_llm_emb_semdedup" -> ((s: SparkSession, dir: String) =>
      semdedupVerdicts(s, embDouble(s, dir)).orderBy("vec_id")),

    // Multi-probe variant of the semdedup verdict (r9): each vector also
    // probes the cell across its smallest-margin hyperplane (recall
    // 0.194 → 0.258 on the sf0.001 exact ground truth at the low fixture
    // tau, LlmSpec; far more at production tau where bit distances are
    // <1) for 2× bucket rows / ≤4× pair work — the recall/cost dial a
    // 100 TB operator tunes instead of rerunning with more planes.
    "q_llm_emb_semdedup_mp" -> ((s: SparkSession, dir: String) =>
      semdedupMultiProbeVerdicts(s, embDouble(s, dir)).orderBy("vec_id")),

    // Within-class embedding outliers — the prototypicality pruning
    // signal (data-pruning pipelines rank examples by distance to their
    // class centroid; the far tail is labeling noise or off-distribution
    // content): exact per-label centroid arrays (the emb_centroid
    // arithmetic), broadcast against ONE corpus scan, every vector scored
    // by the replayable cosine to its OWN label centroid, bottom-5 per
    // label. The rank filter sits directly on the row_number so Spark
    // plans a WindowGroupLimit — partial per-map top-k BEFORE the
    // per-label exchange, never a full per-label sort (the
    // low-cardinality-partition trap, CLAUDE.md).
    "q_llm_emb_outliers" -> ((s: SparkSession, dir: String) => {
      val emb = table(s, dir, "embeddings")
      val scored = emb
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), _.cast("double")).as("emb"))
        .join(broadcast(centroidArraysFor(s, dir)), col("label") === col("c_label"))
        .select(col("vec_id"), col("label").cast("long").as("label"),
          cosine(s)(col("emb"), col("cent")).as("cos_self"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("label").orderBy(asc("cos_self"), asc("vec_id"))))
        .where(col("rn") <= 5)
        .select(col("label"), asLong(col("rn")).as("rn"), col("vec_id"),
          col("cos_self"))
        .orderBy("label", "rn")
    })
  )

  def oracle: Seq[(String, String)] = Seq(
    "q_llm_sim_knn_ivf" -> ivfOracleSql(nprobe = 1),
    "q_llm_sim_knn_ivf2" -> ivfOracleSql(nprobe = 2),
    "q_llm_emb_pq" -> pqOracleSql,
    "q_llm_pq_adc" -> adcOracleSql,

    "q_llm_emb_classify" ->
      s"""WITH $embCte,
         |q AS (
         |  SELECT label AS c_label, i - 1 AS dim,
         |         CAST(round(CAST(embedding[i] AS DOUBLE) * 65536) AS BIGINT) AS qx
         |  FROM (SELECT label, embedding, unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings)),
         |cd AS (
         |  SELECT c_label, dim, CAST(sum(qx) AS DOUBLE) / (count(*) * 65536.0) AS c
         |  FROM q GROUP BY c_label, dim),
         |cent AS (SELECT c_label, list(c ORDER BY dim) AS cent FROM cd GROUP BY c_label),
         |sc AS (
         |  SELECT e.vec_id, e.label, cent.c_label,
         |         ${cosSql("e.emb", "cent.cent")} AS cos
         |  FROM e CROSS JOIN cent),
         |r AS (
         |  SELECT vec_id, label, c_label, cos,
         |         row_number() OVER (PARTITION BY vec_id
         |                            ORDER BY cos DESC, c_label ASC) AS rn
         |  FROM sc)
         |SELECT vec_id, CAST(label AS BIGINT) AS label,
         |       CAST(c_label AS BIGINT) AS pred_label, cos AS best_cos
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "q_llm_emb_centroid" ->
      """WITH x AS (
        |  SELECT label, i, embedding[i] AS x
        |  FROM (SELECT label, embedding, unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings))
        |SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS DOUBLE)
        |         / (count(*) * 65536.0) AS centroid
        |FROM x GROUP BY label, i ORDER BY label, dim""".stripMargin,

    "q_llm_emb_dim_stats" ->
      s"""WITH x AS (
         |  SELECT i, embedding[i] AS x
         |  FROM (SELECT embedding, unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings)),
         |a AS (
         |  SELECT CAST(i - 1 AS BIGINT) AS dim, count(*) AS n,
         |         CAST(sum(q) AS BIGINT) AS qsum,
         |         CAST(sum(CAST(q * q // 1073741824 AS DECIMAL(38,0))) AS DOUBLE) AS q2hi,
         |         CAST(sum(CAST(q * q % 1073741824 AS DECIMAL(38,0))) AS DOUBLE) AS q2lo,
         |         CAST(min(q) AS BIGINT) AS qmin, CAST(max(q) AS BIGINT) AS qmax
         |  FROM (SELECT i, CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT) AS q FROM x)
         |  GROUP BY i)
         |SELECT dim, n, ${dimStatFormulas.mkString(",\n       ")}
         |FROM a ORDER BY dim""".stripMargin,

    "q_llm_emb_pca" -> pcaOracleSql,

    "q_llm_emb_pca2" -> pca2OracleSql,

    "q_llm_emb_cluster_quality" -> {
      val iters = 2
      s"""WITH ${kmeansChainCtes(k = 8, iters = iters, dims = 64)},
         |af AS (
         |  SELECT vec_id, label, cell, sim FROM (
         |    SELECT e.vec_id, e.label, c.cent_id AS cell,
         |           ${cosIntSql("e.qv", "c.cvec")} AS sim,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${cosIntSql("e.qv", "c.cvec")} DESC, c.cent_id ASC) AS rn
         |    FROM e CROSS JOIN c$iters c) WHERE rn = 1),
         |bl AS MATERIALIZED (
         |  SELECT cell, label, CAST(count(*) AS BIGINT) AS cnt,
         |         CAST(sum(CAST(round(sim * 1048576e0) AS BIGINT)) AS BIGINT) AS sq
         |  FROM af GROUP BY 1, 2),
         |ca AS (
         |  SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_members,
         |         CAST(sum(sq) AS BIGINT) AS sqc
         |  FROM bl GROUP BY 1),
         |tp AS (
         |  SELECT cell, cnt AS top_cnt, label AS top_label FROM (
         |    SELECT cell, cnt, label,
         |           row_number() OVER (PARTITION BY cell
         |             ORDER BY cnt DESC, label ASC) AS rn
         |    FROM bl) WHERE rn = 1)
         |SELECT CAST(ca.cell AS BIGINT) AS cell, n_members,
         |       CAST(top_label AS BIGINT) AS top_label,
         |       CAST(top_cnt AS BIGINT) AS top_cnt,
         |       CAST(top_cnt AS DOUBLE) / CAST(n_members AS DOUBLE) AS purity,
         |       CAST(sqc AS DOUBLE) / 1048576e0 / CAST(n_members AS DOUBLE) AS mean_cos
         |FROM ca JOIN tp USING (cell) ORDER BY cell""".stripMargin
    },

    "q_llm_emb_whiten" -> pcaWhitenOracleSql,

    "q_llm_sim_knn" ->
      s"""WITH $embCte,
         |p AS (SELECT emb AS pemb FROM e WHERE vec_id = 0),
         |sc AS (
         |  SELECT e.vec_id, e.label, ${cosSql("e.emb", "p.pemb")} AS cos_sim
         |  FROM e CROSS JOIN p WHERE e.vec_id <> 0)
         |SELECT vec_id, label, cos_sim FROM sc
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q_llm_sim_knn_lsh" ->
      s"""WITH $embCte,
         |b AS (SELECT vec_id, label, emb, ${bucketSql("emb", SimKnnPlanes)} AS bucket FROM e),
         |p AS (SELECT emb AS pemb, bucket AS pbucket FROM b WHERE vec_id = 0),
         |sc AS (
         |  SELECT b.vec_id, b.label, ${cosSql("b.emb", "p.pemb")} AS cos_sim
         |  FROM b CROSS JOIN p WHERE b.vec_id <> 0 AND b.bucket = p.pbucket)
         |SELECT vec_id, label, cos_sim FROM sc
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q_llm_ann_recall" ->
      s"""WITH $embCte,
         |b AS MATERIALIZED (
         |  SELECT vec_id, emb, ${bucketSql("emb", SimKnnPlanes)} AS bucket FROM e),
         |p AS (SELECT vec_id AS probe_id, emb AS pemb, bucket AS pbucket
         |      FROM b WHERE vec_id < $AnnEvalProbes),
         |sc AS MATERIALIZED (
         |  SELECT p.probe_id, b.vec_id, ${cosSql("b.emb", "p.pemb")} AS cs,
         |         b.bucket = p.pbucket AS inb
         |  FROM b CROSS JOIN p WHERE b.vec_id <> p.probe_id),
         |ex AS MATERIALIZED (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |           row_number() OVER (PARTITION BY probe_id
         |                              ORDER BY cs DESC, vec_id) AS rn
         |    FROM sc) WHERE rn <= $AnnEvalK),
         |ls AS MATERIALIZED (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |           row_number() OVER (PARTITION BY probe_id
         |                              ORDER BY cs DESC, vec_id) AS rn
         |    FROM sc WHERE inb) WHERE rn <= $AnnEvalK),
         |h AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM ex JOIN ls USING (probe_id, vec_id) GROUP BY probe_id),
         |ln AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_lsh
         |       FROM ls GROUP BY probe_id),
         |en AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM ex GROUP BY probe_id)
         |SELECT en.probe_id, en.n_exact,
         |       CAST(COALESCE(ln.n_lsh, 0) AS BIGINT) AS n_lsh,
         |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / en.n_exact AS recall
         |FROM en LEFT JOIN ln USING (probe_id) LEFT JOIN h USING (probe_id)
         |ORDER BY probe_id""".stripMargin,

    "q_llm_embed_neardup" ->
      s"""WITH $embCte,
         |b AS (SELECT vec_id, emb, ${bucketSql("emb", NeardupPlanes)} AS bucket FROM e),
         |capped AS (
         |  SELECT vec_id, emb, bucket FROM (
         |    SELECT vec_id, emb, bucket,
         |           row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS brn
         |    FROM b) WHERE brn <= $MaxEmbBucket),
         |pairs AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |         ${cosSql("x.emb", "y.emb")} AS cos_sim
         |  FROM capped x JOIN capped y USING (bucket)
         |  WHERE x.vec_id < y.vec_id)
         |SELECT id_a, id_b, cos_sim FROM pairs
         |ORDER BY cos_sim DESC, id_a ASC, id_b ASC LIMIT 100""".stripMargin,

    "q_llm_emb_semdedup" ->
      s"""WITH $embCte,
         |b AS (SELECT vec_id, label, emb, ${bucketSql("emb", NeardupPlanes)} AS bucket FROM e),
         |capped AS (
         |  SELECT vec_id, emb, bucket FROM (
         |    SELECT vec_id, emb, bucket,
         |           row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS brn
         |    FROM b) WHERE brn <= $MaxEmbBucket),
         |dups AS (
         |  SELECT y.vec_id, min(x.vec_id) AS dup_of
         |  FROM capped x JOIN capped y USING (bucket)
         |  WHERE x.vec_id < y.vec_id AND ${cosSql("x.emb", "y.emb")} >= $SemDedupTau
         |  GROUP BY y.vec_id)
         |SELECT e.vec_id AS vec_id, e.label AS label, d.dup_of AS dup_of,
         |       d.dup_of IS NULL AS keep
         |FROM e LEFT JOIN dups d ON d.vec_id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin,

    // multi-probe twin: the plane dots, margins, argmin tie-break, and the
    // XOR'd probe cell all replay IEEE/integer-exactly, so the verdict
    // hash-gates like the single-probe one
    "q_llm_emb_semdedup_mp" -> {
      val n = NeardupPlanes.length
      s"""WITH $embCte,
         |dd AS (
         |  SELECT vec_id, label, emb,
         |         ${(0 until n).map(p => planeDotSql("emb", NeardupPlanes(p)) + s" AS d$p").mkString(",\n         ")}
         |  FROM e),
         |bb AS (
         |  SELECT vec_id, emb,
         |         ${(0 until n).map(p => s"(CASE WHEN d$p > 0 THEN ${1L << p} ELSE 0 END)").mkString(" + ")} AS bucket,
         |         least(${(0 until n).map(p => s"abs(d$p)").mkString(", ")}) AS minabs,
         |         ${(0 until n).map(p => s"d$p").mkString(", ")}
         |  FROM dd),
         |mm AS (
         |  SELECT vec_id, emb, bucket,
         |         CASE ${(0 until n).map(p => s"WHEN abs(d$p) = minabs THEN CAST(${1L << p} AS BIGINT)").mkString(" ")} END AS mask
         |  FROM bb),
         |pb AS (
         |  SELECT vec_id, emb, unnest([bucket, xor(bucket, mask)]) AS bucket2
         |  FROM mm),
         |capped AS (
         |  SELECT vec_id, emb, bucket2 FROM (
         |    SELECT vec_id, emb, bucket2,
         |           row_number() OVER (PARTITION BY bucket2 ORDER BY vec_id) AS brn
         |    FROM pb) WHERE brn <= $MaxEmbBucket),
         |dups AS (
         |  SELECT y.vec_id, min(x.vec_id) AS dup_of
         |  FROM capped x JOIN capped y USING (bucket2)
         |  WHERE x.vec_id < y.vec_id AND ${cosSql("x.emb", "y.emb")} >= $SemDedupTau
         |  GROUP BY y.vec_id)
         |SELECT e.vec_id AS vec_id, e.label AS label, d.dup_of AS dup_of,
         |       d.dup_of IS NULL AS keep
         |FROM e LEFT JOIN dups d ON d.vec_id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin
    },

    // Same exact-integer centroid build as the q_llm_emb_classify twin;
    // the cosine fold replays the engine's index-ordered accumulation.
    "q_llm_emb_outliers" ->
      s"""WITH $embCte,
         |q AS (
         |  SELECT label AS c_label, i - 1 AS dim,
         |         CAST(round(CAST(embedding[i] AS DOUBLE) * 65536) AS BIGINT) AS qx
         |  FROM (SELECT label, embedding, unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings)),
         |cd AS (
         |  SELECT c_label, dim, CAST(sum(qx) AS DOUBLE) / (count(*) * 65536.0) AS c
         |  FROM q GROUP BY c_label, dim),
         |cent AS (SELECT c_label, list(c ORDER BY dim) AS cent FROM cd GROUP BY c_label),
         |sc AS (
         |  SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
         |         ${cosSql("e.emb", "cent.cent")} AS cos_self
         |  FROM e JOIN cent ON cent.c_label = e.label),
         |r AS (
         |  SELECT label, vec_id, cos_self,
         |         row_number() OVER (PARTITION BY label
         |                            ORDER BY cos_self ASC, vec_id ASC) AS rn
         |  FROM sc)
         |SELECT label, CAST(rn AS BIGINT) AS rn, vec_id, cos_self
         |FROM r WHERE rn <= 5 ORDER BY label, rn""".stripMargin
  )
}
