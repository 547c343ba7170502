package graft


import org.apache.spark.sql.functions._

import graft.ops.Skew

/** Scale techniques proven at small scale: bucketed co-located joins
  * eliminate the join shuffle; salted joins reproduce plain join results
  * exactly; the hash-agg as-of join matches the window formulation.
  */
class ScaleTechniqueSpec extends SparkTestBase {

  test("bucketed tables join without a shuffle exchange") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      ops.table(spark, sfDir, "orders")
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("b_orders")
      ops.table(spark, sfDir, "lineitem")
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!plan.contains("Exchange"),
        s"bucketed join should be co-located, plan was:\n$plan")
      // and it is still correct
      assert(joined.count() ==
        ops.table(spark, sfDir, "lineitem")
          .join(ops.table(spark, sfDir, "orders"),
            col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("globalRowNumber matches the global window on sparse, negative, and dense keys") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    // sparse with huge gaps, negatives straddling the bucket-0 boundary,
    // and a dense run — all distinct, so ids must match the window exactly
    val keys = (Seq(-5000000L, -4097L, -4096L, -1L, 0L, 1L, 4095L, 4096L)
      ++ (100000L until 101000L) ++ Seq(7L * 1000 * 1000 * 1000L)).distinct
    val df = keys.toDF("k").repartition(7)
      .withColumn("p", pmod(col("k"), lit(3L)))
      .withColumn("a", -pmod(col("k"), lit(5L)))
      .withColumn("w", pmod(col("k"), lit(7L)) - 3L)
    def byKey(d: DataFrame): Map[Long, Long] =
      d.select(col("k"), col("rn").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    def check(what: String, got: DataFrame, want: DataFrame): Unit =
      assert(byKey(got) == byKey(want), what)
    check("one order column",
      ops.globalRowNumber(df, Seq(col("k")), "rn"),
      df.withColumn("rn", row_number().over(Window.orderBy("k"))))
    check("partitioned: the numbering restarts per p",
      ops.globalRowNumber(df, Seq(col("k")), "rn", partitionBy = Seq("p")),
      df.withColumn("rn", row_number().over(Window.partitionBy("p").orderBy("k"))))
    check("two-column order, bucket (a, k div 4096) a prefix of (a, k)",
      ops.globalRowNumber(df, Seq(col("a"), col("k")), "rn"),
      df.withColumn("rn", row_number().over(Window.orderBy("a", "k"))))
    check("weighted running sum (signed weights)",
      ops.globalRowNumber(df, Seq(col("k")), "rn", weight = col("w")),
      df.withColumn("rn", sum("w").over(Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    assert(ops.globalRowNumber(df, Seq(col("k")), "rn").columns.toSeq ==
      df.columns.toSeq :+ "rn", "the input columns, then the output")
  }

  test("globalRowNumber on duplicate-heavy keys is a valid dense numbering") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // one hot key (skew), ties rank arbitrarily but ids must be a
    // permutation of 1..N with keys non-decreasing in id order
    val keys = Seq.fill(5000)(42L) ++ (0L until 100L) ++ Seq.fill(300)(8192L)
    val rows = ops.globalRowNumber(keys.toDF("k").repartition(11), Seq(col("k")), "rn")
      .select("k", "rn").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._2).sorted.toSeq == (1L to keys.length).toSeq)
    val keysByRn = rows.sortBy(_._2).map(_._1).toSeq
    assert(keysByRn == keysByRn.sorted, "keys must be non-decreasing in id order")
    // every row in ONE bucket: the hot key with a unique tie-break column,
    // so the ids must equal the global window's exactly
    val hot = (0L until 3000L).map(i => (42L, i * 7919L % 3001L)).toDF("k", "id")
      .repartition(5)
    val got = ops.globalRowNumber(hot, Seq(col("k"), col("id")), "rn",
        bucketWidth = 65536L)
      .select("id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = hot.withColumn("rn", row_number().over(Window.orderBy("k", "id")))
      .select("id", "rn").collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toMap
    assert(got.size == 3000 && got == want)
  }

  test("valueAtRanks and doubleValueAtRanks select what a plain sort selects") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import graft.ops.DiagOps
    // (group, value, weight) rows; every rank 1..n of every group is asked
    def cents(g: String, cs: Seq[Long]) = cs.map(c => (g, c / 100.0, 1L))
    val twoDecimal = Seq(
      cents("ties", Seq.fill(5)(125L) ++ Seq.fill(3)(300L) ++ Seq(50L, 50L)),
      // both sides of bucket 0 and of the 4096-cent bucket edges
      cents("signs", Seq(-8193L, -4097L, -4096L, -1L, -1L, 0L, 1L, 4095L,
        4096L, 8192L)),
      // values more than 4096 cents apart: one key per bucket
      cents("far", Seq(-777777L, 0L, 10000L, 5000000L, 123456789L)),
      // a dense domain (l_quantity-like) that falls in one bucket
      cents("dense", (1L to 50L).flatMap(q => Seq.fill((q % 3 + 1).toInt)(q * 100L))))
      .flatten
    // zero weights at both ends and in the middle are never selected
    val weighted = Seq(("w", -3.0, 0L), ("w", -1.5, 2L), ("w", 0.0, 0L),
      ("w", 0.25, 3L), ("w", 0.25, 1L), ("w", 40.96, 5L), ("w", 99.99, 0L))
    val magnitudes = Seq(-1e300, -2.5, -1e-300, 1e-300, 1e-5, 3.14, 3.14,
      42.0, 7e15, 1e300).map(v => ("mag", v, 1L))
    def mkRanks(nRel: DataFrame): DataFrame = nRel
      .select(col("g"), col("n"), explode(sequence(lit(1L), col("n"))).as("rank"))
      .select(col("g"), concat(lit("r"), col("rank").cast("string")).as("which"),
        col("rank"), col("n"), concat(lit("tag-"), col("g")).as("tag"))
    def check(engine: String, rows: Seq[(String, Double, Long)],
        select: DataFrame => (DataFrame, DataFrame)): Unit = {
      val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val sorted = rs.flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted
        sorted.zipWithIndex.map { case (v, i) =>
          (g, s"r${i + 1}") -> (v, sorted.length.toLong, s"tag-$g") }
      }.toMap
      val (sel, nRel) = select(rows.toDF("g", "v", "w").repartition(5))
      assert(sel.columns.toSeq == Seq("g", "which", "value", "n", "tag"), engine)
      val got = sel.collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getLong(3), r.getString(4))).toSeq
      val nGot = got.size
      assert(nGot == want.size, s"$engine: one row per rank")
      assert(got.toMap == want, engine)
      assert(nRel.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        rows.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._3).sum }, engine)
    }
    check("valueAtRanks", twoDecimal,
      df => DiagOps.valueAtRanks(df, "g", "v", mkRanks))
    check("valueAtRanks weighted", twoDecimal ++ weighted,
      df => DiagOps.valueAtRanks(df, "g", "v", mkRanks, weight = col("w")))
    check("doubleValueAtRanks", twoDecimal ++ magnitudes,
      df => DiagOps.doubleValueAtRanks(df, "g", "v", mkRanks))
  }

  test("salted join returns exactly the plain join result") {
    val orders = ops.table(spark, sfDir, "orders")
    val customer = ops.table(spark, sfDir, "customer")
    val plain = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_custkey", "c_name")
    val salted = Skew.saltedJoin(orders, customer, "o_custkey", "c_custkey",
        saltSource = col("o_orderkey"), salts = 8)
      .select("o_orderkey", "c_custkey", "c_name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // At 100 TB a selective dimension predicate should also prune the fact
    // scan. Spark's InjectRuntimeFilter does that automatically once the
    // fact side is large enough — thresholds are lowered here so the
    // mechanism is demonstrable at fixture scale.
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    try {
      val li = ops.table(spark, sfDir, "lineitem")
      val sel = ops.table(spark, sfDir, "orders")
        .where(col("o_totalprice") > 400000.0)
      val j = li.join(sel, col("l_orderkey") === col("o_orderkey"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected a runtime bloom filter on the fact side, plan:\n$optimized")
      // and the filtered plan returns the same rows as the plain join —
      // the control must EXECUTE while the filter is disabled (the conf is
      // read at optimization time, i.e. during the action)
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plainCount =
        try li.join(sel, col("l_orderkey") === col("o_orderkey")).count()
        finally spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(j.count() == plainCount)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    }
  }

  test("q_stream_late plan: no window over the low-cardinality type key, broadcast rejoin instead") {
    // the round-3 verdict's surviving scale-killer: a Window partitioned by
    // a ~5-value key funnels N/5 of all records through each sort task.
    // The round-4 plan must be hash agg + broadcast join + hash agg.
    val plan = SparkEntry.queries("q_stream_late")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"),
      s"q_stream_late must not contain a Window operator, plan:\n$plan")
    assert(plan.contains("Broadcast"),
      s"expected the 5-row max-ts relation to be broadcast, plan:\n$plan")
  }

  test("as-of two-level plan: bucketed windows, one summary equi-join on the salt key") {
    // r4 removed the events×orders pair expansion (merge-scan); r5 salts the
    // per-user window by a coarse time bucket. The plan must be: union →
    // windows over (user, bucket) → ONE equi-join against the per-bucket
    // summary relation (rows = #occupied buckets, not #records). Any second
    // join, or any non-equi join, would mean pair expansion crept back in.
    for (name <- Seq("q_join_asof", "q_join_asof_fwd")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.toString
      assert(plan.contains("Window") && plan.contains("Union"),
        s"$name should be a union + running window, plan:\n$plan")
      assert(!plan.contains("CartesianProduct")
          && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name must not contain a non-equi join, plan:\n$plan")
      val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
        .findAllIn(plan).size
      assert(joins == 1,
        s"$name must have exactly the summary rejoin, found $joins, plan:\n$plan")
      assert(plan.contains("tb#"),
        s"$name join key must carry the time-bucket salt, plan:\n$plan")
    }
  }

  test("segment ranking is bucketed two-level and matches the naive window formulation") {
    import org.apache.spark.sql.expressions.Window
    // r5: the mktsegment analytic family must not sort N/5 of the table in
    // one task — every Window in the plan carries the value bucket in its
    // partition spec, and the results still match the plain windows exactly
    val cust = ops.table(spark, sfDir, "customer")
    val wUniq = Window.partitionBy("c_mktsegment")
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    val wTies = Window.partitionBy("c_mktsegment").orderBy(desc("c_acctbal"))
    val naive = cust.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      row_number().over(wUniq).cast("long").as("rn"),
      rank().over(wTies).cast("long").as("rk"),
      dense_rank().over(wTies).cast("long").as("drk"),
      ntile(4).over(wUniq).cast("long").as("quartile"))
    val got = SparkEntry.queries("q_win_rank")(spark, sfDir)
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
    for (name <- Seq("q_win_rank", "q_win_ntile", "q_win_dist")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.toString
      // every record-stream window partitions by (segment, bucket); the only
      // segment-alone window runs over the tiny per-bucket summary relation
      assert(plan.contains("_sr_bucket"),
        s"$name should rank via the bucketed two-level shape, plan:\n$plan")
    }
  }

  test("IVF cell assignment broadcasts the centroid relation (no K-arm literal expression)") {
    val plan = graft.ops.AnnOps.ivfTopK(spark, sfDir, nprobe = 1)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("Broadcast"),
      s"expected a broadcast join against the centroid relation, plan:\n$plan")
  }

  test("ntile formula matches the built-in ntile on adversarial partition sizes") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // sizes around the div/mod edges: < k, == k, k±1, big prime, multiples
    val sizes = Seq(1, 2, 3, 4, 5, 7, 8, 97, 100)
    val rows = sizes.zipWithIndex.flatMap { case (n, seg) =>
      (1 to n).map(i => (s"seg$seg", i.toLong))
    }
    val df = rows.toDF("seg", "v")
    val w = Window.partitionBy("seg").orderBy("v")
    val withBoth = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_seg", count(lit(1)).over(
        Window.partitionBy("seg")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).cast("long"))
      .withColumn("builtin", ntile(4).over(w).cast("long"))
      .withColumn("formula", expr(
        """CAST(CASE WHEN rn <= (n_seg % 4) * (n_seg div 4 + 1)
          |     THEN (rn - 1) div (n_seg div 4 + 1) + 1
          |     ELSE (n_seg % 4) + (rn - (n_seg % 4) * (n_seg div 4 + 1) - 1) div (n_seg div 4) + 1
          |     END AS BIGINT)""".stripMargin))
    val bad = withBoth.where(col("builtin") =!= col("formula")).count()
    assert(bad == 0, s"$bad rows disagree with built-in ntile")
  }

  test("salted as-of matches the naive window on a tie-heavy random interleaving") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // deliberately collide instants: few users, coarse times, orders AND
    // events at the same microsecond, orders tied on time (key tie-break),
    // bucket-boundary times (multiples of the 1-hour salt width)
    val rnd = new scala.util.Random(42)
    val hourUs = 3600L * 1000000L
    def t(): Long = {
      val base = (rnd.nextInt(20).toLong) * hourUs / 2 // half-bucket grid
      base + (if (rnd.nextBoolean()) 0L else rnd.nextInt(3).toLong)
    }
    val orders = (1 to 400).map(i =>
      (100L + rnd.nextInt(5), t(), i.toLong)) // (user, t_us, orderkey)
    val events = (1 to 300).map(i =>
      (100L + rnd.nextInt(5), t(), 1000L + i)) // (user, t_us, event_id)
    val oDf = orders.toDF("user_id", "t_us", "o_orderkey")
      .withColumn("o_orderdate", expr("timestamp_micros(t_us)")).drop("t_us")
    val eDf = events.toDF("user_id", "t_us", "event_id")
      .withColumn("ts", expr("timestamp_micros(t_us)")).drop("t_us")
    // naive ground truth: left join + rank, the oracle's formulation
    val w = Window.partitionBy("event_id")
      .orderBy(desc_nulls_last("o_orderdate"), desc_nulls_last("o_orderkey"))
    val want = eDf.join(oDf.withColumnRenamed("user_id", "o_user"),
        col("o_user") === col("user_id") && col("o_orderdate") <= col("ts"), "left")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("event_id"), col("o_orderkey"))
    // engine path: write a fixture dir and run the declared query
    val dir = java.nio.file.Files.createTempDirectory("graft-asof-rand").toString
    oDf.select(col("o_orderkey"), col("user_id").as("o_custkey"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    eDf.select(col("event_id"), col("user_id"),
        (unix_micros(col("ts")) * 1000).as("ts")) // loader's raw-ns form
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_join_asof")(spark, dir)
      .select(col("event_id"), col("o_orderkey"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("merge-scan as-of join matches the window-function formulation") {
    import org.apache.spark.sql.expressions.Window
    val e = ops.table(spark, sfDir, "events").select("event_id", "user_id", "ts")
    val o = ops.table(spark, sfDir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    val w = Window.partitionBy("event_id")
      .orderBy(desc_nulls_last("o_orderdate"), desc_nulls_last("o_orderkey"))
    val windowed = e.join(o,
        col("o_custkey") === col("user_id") && col("o_orderdate") <= col("ts"), "left")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("event_id"), col("o_orderkey"))
    val agg = SparkEntry.queries("q_join_asof")(spark, sfDir)
      .select(col("event_id"), col("o_orderkey"))
    assert(agg.exceptAll(windowed).isEmpty && windowed.exceptAll(agg).isEmpty)
  }

  test("order-statistic queries keep their warm job counts (index + one rank filter)") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val sc = spark.sparkContext
    // jobs a query's collect() submits; a marker job's end event proves
    // the listener bus has delivered every job start before it
    def jobsOf(name: String): Int = {
      val jobs = new AtomicInteger(0)
      val markerJob = new AtomicInteger(-1)
      val markerDone = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("graft.test.marker") != null)
            markerJob.set(e.jobId)
          else jobs.incrementAndGet()
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          if (e.jobId == markerJob.get) markerDone.countDown()
      }
      sc.addSparkListener(listener)
      try {
        SparkEntry.queries(name)(spark, sfDir).collect()
        sc.setLocalProperty("graft.test.marker", "end")
        try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.marker", null)
        assert(markerDone.await(60, TimeUnit.SECONDS), "marker job end never seen")
      } finally sc.removeSparkListener(listener)
      jobs.get
    }
    // warm calls repeat their job count exactly; the first call builds
    // the memoized indexes. The bounds are the sf0.001 counts of the
    // memoized index + one rank filter shape.
    val maxWarmJobs = Seq("q_win_winsorize" -> 7, "q_ts_anomaly_mad" -> 12,
      "q_agg_weighted_median" -> 5, "q_analytics_revenue_conc" -> 6)
    val over = maxWarmJobs.flatMap { case (name, bound) =>
      SparkEntry.queries(name)(spark, sfDir).collect()
      val warm = Seq.fill(2)(jobsOf(name))
      if (warm.forall(_ <= bound)) None else Some(s"$name: $warm > $bound")
    }
    assert(over.isEmpty, over.mkString("warm jobs per call over the bound: ", "; ", ""))
  }
}
