package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every declared query on SPARK_GRAFT_SF_DIR, one
  * JSON line of per-query seconds. An untimed warmup first JITs the parquet
  * reader / codegen / regex paths so per-query numbers reflect steady state,
  * and queries run in sorted order so timings are attributable run-to-run.
  *
  * Each query is timed SPARK_GRAFT_BENCH_REPS times (default 3) and the
  * MEDIAN is reported — round 2 showed single-shot timings on the shared
  * local[32] sandbox swing 2-3x run-to-run (JIT/GC/page-cache), which made
  * round-over-round deltas unreadable; the median suppresses one-off stalls
  * so BENCH_r{N} deltas are signal.
  */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Box canary (r15, verdict item 1): a FIXED fixture-independent
    * calibration job — range → modulo key → hash agg over 200M rows —
    * whose wall time depends only on available CPU, so timing it before
    * and after the suite measures box weather in the same window as the
    * per-query numbers. BENCH_r14's ex-twins ratio was ~25% window
    * inflation (the whole ts family spiked together); the canary makes
    * that adjudication mechanical instead of requiring an idle re-run.
    * Median of 3 inner reps, like the queries. */
  private def canarySeconds(spark: SparkSession): Double =
    median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, 32)
        .selectExpr("id % 4096 AS k", "id")
        .groupBy("k").sum("id").count()
      (System.nanoTime() - t0) / 1e9
    })
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // The bench fixtures are single small parquet files (lineitem sf0.1 is
    // ~11 MB): with the 128 MB default every scan is ONE input split, which
    // serializes the read stage on local[N]. 8 MB splits measured ~1.8×
    // faster end-to-end (2 MB over-splits). On a real cluster against TB
    // inputs the default is correct — this is a small-input local tuning,
    // overridable via SPARK_GRAFT_MAX_PARTITION_BYTES.
    val maxPartitionBytes = sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m")
    val spark = Mains.localSession(cpus, "WARN",
      "spark.sql.files.maxPartitionBytes" -> maxPartitionBytes,
      "spark.sql.files.openCostInBytes" -> "1m")
    // Warmup (untimed): touch the scan, shuffle, regex and hash paths once.
    // r16: the old 2-job warmup left C2 compilation of the shuffle /
    // codegen / window machinery still in flight when the suite started —
    // every full run showed the same signature (canary_pre ≈ 1.5× the
    // post value, the re-timed first-3 queries ~2.5× faster at window
    // end), i.e. the alphabetically-first ~30 queries were systematically
    // measured mid-JIT, not at the documented steady state. The warmup
    // now also runs the canary shape and a handful of representative
    // query paths (join + window + explode/HOF + decimal agg) untimed so
    // canary_pre is an honest box probe and early per-query numbers mean
    // the same thing as late ones. Timed region unchanged.
    try {
      ops.table(spark, sfDir, "lineitem")
        .groupBy("l_returnflag").count().collect()
      ops.table(spark, sfDir, "documents")
        .selectExpr("sha2(text, 256)", "regexp_extract_all(text, '([a-z]+)', 1)")
        .count()
      for (_ <- 1 to 3) canarySeconds(spark)
      val li = ops.table(spark, sfDir, "lineitem")
      val ord = ops.table(spark, sfDir, "orders")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr(
            "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))")))
        .count()
      ord.selectExpr("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rk", org.apache.spark.sql.functions.expr(
          "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)"))
        .where("rk = 1").count()
      ops.table(spark, sfDir, "documents")
        .selectExpr("explode(filter(split(text, ' '), t -> length(t) > 0)) AS tok")
        .groupBy("tok").count().count()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Optional comma-separated subset for targeted re-runs (perf triage);
    // unset = full suite, which is what the driver records.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None        => SparkEntry.queries
    }
    def timeQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); None }
      }
      // any failed rep reports -1.0 so a regression can never read as a win
      val ok = times.size == reps
      (if (ok) median(times) else -1.0, ok)
    }
    val canaryPre = canarySeconds(spark)
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (sec, ok) = timeQuery(name, fn)
      (name, sec, ok)
    }
    val canaryPost = canarySeconds(spark)
    // second weather probe: re-time the 3 alphabetically-first succeeded
    // queries at the END of the window and compare to their in-suite
    // medians — catches contention that arrives mid-suite after the
    // canary_pre sample.
    val retimed = results.collect { case (n, s, true) if s > 0 => (n, s) }
      .take(3).map { case (n, orig) =>
        val (sec, ok) = timeQuery(n, selected(n))
        (n, orig, if (ok) sec else orig)
      }
    val requerySkew =
      if (retimed.isEmpty) 1.0
      else retimed.map(_._3).sum / retimed.map(_._2).sum
    val canarySkew = math.max(canaryPre, canaryPost) / math.min(canaryPre, canaryPost)
    // documented bands (CLAUDE.md r11: this box drifts ±15% idle): a
    // canary pre/post split > 1.3x, or the end-of-window re-time of the
    // first 3 queries > 1.5x their in-suite medians, marks the window
    // contended — the ratio should be re-measured, not trusted.
    val contended = canarySkew > 1.3 || requerySkew > 1.5
    val canaryFields =
      f""","canary_pre":$canaryPre%.3f,"canary_post":$canaryPost%.3f,"canary_skew":$canarySkew%.3f,"requery_skew":$requerySkew%.3f,"window_contended":$contended"""
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // Absolute anchor: the pinned DuckDB wall times of the oracle SQL twins
    // (scripts/bench_duckdb.py → BASELINE_DUCKDB.json). The ratio compares
    // the two engines on the SAME queries only (oracled ∩ benched, both
    // succeeded), so adding oracle-less queries can't skew it.
    val baseline = duckdbRatio(results)
    // Only the compact summary goes to stdout, as the very last line —
    // after spark.stop(), so no shutdown logging can follow it: the
    // output is recorded by its last 2000 bytes, and the ~9k-char full
    // line (per-query map included) front-truncates there. The full line
    // is written to $SPARK_GRAFT_BENCH_OUT (default /tmp/graft-bench.json).
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed$baseline$canaryFields,"sf":"$sfDir"}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed$baseline$canaryFields,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft-bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
    println(summary)
  }

  /** The DuckDB twins of these queries are written for BIT-EXACT float
    * replay (index-ordered IEEE lambda folds; the IVF pair replays a whole
    * k-means build in SQL) — correctness artifacts, not an optimized DuckDB
    * implementation, so they run slowly there and flatter the raw ratio.
    * Bench reports the ratio both ways so the honesty split in BASELINE.md
    * is machine-generated and cannot drift from the artifact.
    */
  private val replayTwins = Set(
    "q_llm_sim_knn_lsh", "q_llm_embed_neardup",
    "q_llm_sim_knn_ivf", "q_llm_sim_knn_ivf2",
    "q_llm_emb_semdedup", "q_llm_emb_semdedup_mp",
    // r9 continuation: the 20-probe recall harness fans the float-fold
    // cosine replay ×20 (~10 s in DuckDB at sf0.1) — same bit-exactness
    // tax as the other cosine twins, excluded so the raw ratio can't
    // flatter
    "q_llm_ann_recall",
    // r12 continuation-2: the PQ twin replays FOUR per-subspace Lloyd
    // builds + encodes as float-fold cross joins (~4.5-8.6 s in DuckDB at
    // sf0.1) — the same bit-exactness tax as the IVF twins it reuses;
    // the ADC twin rides the same chain plus an exact-cosine fold
    "q_llm_emb_pq", "q_llm_pq_adc",
    // r10: the PageRank twin replays the engine's ~98-round limit-cycle
    // loop as PrIters unrolled MATERIALIZED stages (~160 s in DuckDB at
    // sf0.1) — an iteration-replay tax, not a fair native baseline (a
    // DuckDB user would run a float recursive CTE), excluded so the raw
    // ratio can't flatter
    "q_graph_pagerank")

  /** `,"duckdb_total":…,"spark_on_common":…,"vs_duckdb_ratio":…` plus the
    * `_ex_twins` variants (replay-twin set excluded) if the pinned baseline
    * file exists (repo root or SPARK_GRAFT_DUCKDB_BASELINE), empty otherwise. */
  private def duckdbRatio(results: Seq[(String, Double, Boolean)]): String = {
    val path = sys.env.getOrElse("SPARK_GRAFT_DUCKDB_BASELINE", "BASELINE_DUCKDB.json")
    val f = new java.io.File(path)
    if (!f.exists()) return ""
    // flat {"q_name": sec} pairs — regex keeps Bench dependency-free
    val txt = java.nio.file.Files.readString(f.toPath)
    val duck = "\"(q_[a-z0-9_]+)\"\\s*:\\s*([0-9.eE+-]+)".r
      .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
    val common = results.collect {
      case (name, sec, true) if duck.contains(name) => (name, sec, duck(name))
    }
    if (common.isEmpty) return ""
    def ratioFields(rows: Seq[(String, Double, Double)], suffix: String): String = {
      if (rows.isEmpty) return ""
      val sparkSum = rows.map(_._2).sum
      val duckSum = rows.map(_._3).sum
      f""","duckdb_total$suffix":$duckSum%.3f,"spark_on_common$suffix":$sparkSum%.3f,"vs_duckdb_ratio$suffix":${sparkSum / duckSum}%.3f"""
    }
    ratioFields(common, "") +
      ratioFields(common.filterNot(r => replayTwins(r._1)), "_ex_twins")
  }
}
