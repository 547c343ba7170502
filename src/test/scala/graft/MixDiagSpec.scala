package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-6 training-mix (MixOps) and
  * diagnostics (DiagOps) families — properties the DuckDB hash gate cannot
  * see (it only proves Spark ≡ oracle, not that either is RIGHT).
  */
class MixDiagSpec extends SparkTestBase {

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("split_assign buckets are in [0,100) and the split matches its bucket") {
    val rows = q("q_llm_split_assign")
      .select("bucket", "split").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, s) = (r.getLong(0), r.getString(1))
      assert(b >= 0 && b < 100)
      val expected = if (b < 90) "train" else if (b < 95) "val" else "test"
      assert(s == expected, s"bucket $b mapped to $s")
    }
  }

  test("split_assign is deterministic across runs and partitionings") {
    val a = q("q_llm_split_assign").collect().toSeq
    val b = SparkEntry.queries("q_llm_split_assign")(spark, sfDir)
      .repartition(7).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("domain_mix shares are positive and sum to 1 (within fp tolerance)") {
    val rows = q("q_llm_domain_mix").select("share", "n_docs", "w").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) > 0.0)
      assert(math.abs(r.getDouble(2) - math.sqrt(r.getLong(1).toDouble)) == 0.0)
    }
    val tot = rows.map(_.getDouble(0)).sum
    assert(math.abs(tot - 1.0) < 1e-9, s"shares sum to $tot")
  }

  test("pack_chunks offsets are contiguous in doc_id order and chunk spans are consistent") {
    val rows = q("q_llm_pack_chunks")
      .select("doc_id", "n_tokens", "start_off", "chunk_first", "chunk_last", "n_chunks")
      .orderBy("doc_id").collect()
    assert(rows.nonEmpty)
    var expectedOff = 0L
    rows.foreach { r =>
      val (nt, off, cf, cl, nc) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(off == expectedOff, s"doc ${r.getLong(0)}: off $off != $expectedOff")
      expectedOff += nt
      assert(cf == off / 512 && cl == (off + nt - 1) / 512 && nc == cl - cf + 1)
    }
  }

  test("emb_quantize components are int8-bounded and norms positive on the fixture") {
    val rows = q("q_llm_emb_quantize")
      .select("norm", "q_min", "q_max", "q_l1").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) > 0.0)
      assert(r.getLong(1) >= -127L && r.getLong(2) <= 127L)
      assert(r.getLong(3) >= math.max(math.abs(r.getLong(1)), math.abs(r.getLong(2))))
    }
  }

  test("boilerplate counts are bounded and the ratio is a true fraction") {
    val rows = q("q_text_boilerplate")
      .select("n_shingles", "n_boiler", "boiler_ratio").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= r.getLong(0))
      val ratio = r.getDouble(2)
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
  }

  test("profile_table profiles every declared column over the same row count") {
    val rows = q("q_profile_table").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("o_custkey", "o_orderdate_ms", "o_orderkey", "o_totalprice"))
    val nRows = rows.map(_.getLong(1)).distinct
    assert(nRows.length == 1 && nRows.head > 0)
    rows.foreach { r =>
      assert(r.getLong(2) == 0L) // fixture has no nulls
      assert(r.getDouble(4) <= r.getDouble(5))
      assert(r.getLong(3) <= r.getLong(1))
    }
  }

  test("heavy_hitters is capped at 20, ordered, and cumulative") {
    val rows = q("q_agg_heavy_hitters")
      .select("c", "share", "cum_c", "cum_share").collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    var cum = 0L
    var lastC = Long.MaxValue
    rows.foreach { r =>
      assert(r.getLong(0) <= lastC); lastC = r.getLong(0)
      cum += r.getLong(0)
      assert(r.getLong(2) == cum)
      assert(r.getDouble(1) > 0.0 && r.getDouble(3) <= 1.0 + 1e-12)
    }
  }

  test("zscore_outlier only emits |z| > 2.5 and flags a small minority") {
    val out = q("q_agg_zscore_outlier").select("z").collect()
    out.foreach(r => assert(math.abs(r.getDouble(0)) > 2.5))
    val total = graft.ops.table(spark, sfDir, "events").count()
    assert(out.length < total / 10, s"${out.length} outliers of $total events")
  }

  test("winsorize clamps into a sub-range and leaves the bulk untouched") {
    val df = q("q_win_winsorize").cache()
    try {
      val n = df.count()
      val changed = df.where(col("value_w") =!= col("value")).count()
      // p05/p95 winsorization changes at most ~10% of rows (plus ties)
      assert(changed <= n / 5, s"$changed of $n rows clamped")
      assert(changed > 0, "expected some clamped rows on the fixture")
      // clamped range is inside the raw range, per event_type
      val bad = df.groupBy("event_type")
        .agg(min("value").as("lo"), max("value").as("hi"),
          min("value_w").as("lo_w"), max("value_w").as("hi_w"))
        .where(col("lo_w") < col("lo") || col("hi_w") > col("hi"))
        .count()
      assert(bad == 0)
    } finally df.unpersist()
  }

  test("gapfill grid is dense: #types × #hours rows, event total preserved") {
    val df = q("q_ts_gapfill").cache()
    try {
      val types = df.select("event_type").distinct().count()
      val hours = df.select("hour_idx").distinct().count()
      assert(df.count() == types * hours, "grid is not dense")
      val evTotal = graft.ops.table(spark, sfDir, "events").count()
      val gridTotal = df.agg(sum("n_events")).head().getLong(0)
      assert(gridTotal == evTotal)
      // at least one gap row exists on the sparse sf0.001 fixture
      assert(df.where(col("n_events") === 0).count() > 0)
    } finally df.unpersist()
  }

  test("acf matches a naive driver-side correlogram and is structurally sane") {
    val rows = q("q_ts_acf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(rows.nonEmpty)
    // driver-side series replay: zero-filled hourly cent sums per type
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (h0, h1) = (ev.map(_._1).min, ev.map(_._1).max)
    val series = ev.groupBy(_._2).map { case (t, es) =>
      val sums = es.groupBy(_._1).view.mapValues(
        _.map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum).toMap
      t -> (h0 to h1).map(h =>
        (sums.getOrElse(h, BigDecimal(0)) * 100).toLong).toArray
    }
    rows.foreach { case (t, lagH, n, acf) =>
      val v = series(t)
      assert(n == v.length - lagH, "one pair per overlapping grid hour")
      val xs = v.drop(lagH.toInt).map(_.toDouble)
      val ys = v.dropRight(lagH.toInt).map(_.toDouble)
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val den = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum) *
        math.sqrt(ys.map(y => (y - my) * (y - my)).sum)
      if (den > 0) {
        val expected = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den
        assert(math.abs(acf.get - expected) < 1e-6,
          s"$t lag $lagH: ${acf.get} vs naive $expected")
        assert(acf.get >= -1.0 - 1e-9 && acf.get <= 1.0 + 1e-9)
      } else assert(acf.isEmpty)
    }
  }

  test("crosscorr matches a naive driver-side cross-correlogram over distinct pairs") {
    val rows = q("q_ts_crosscorr").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(rows.nonEmpty)
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (h0, h1) = (ev.map(_._1).min, ev.map(_._1).max)
    val series = ev.groupBy(_._2).map { case (t, es) =>
      val sums = es.groupBy(_._1).view.mapValues(
        _.map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum).toMap
      t -> (h0 to h1).map(h =>
        (sums.getOrElse(h, BigDecimal(0)) * 100).toLong).toArray
    }
    val nt = series.size
    // ordered distinct pairs × lags 0..5, ccf asymmetric by construction
    assert(rows.length == nt * (nt - 1) * 6)
    rows.foreach { case (ta, tb, lagH, n, ccf) =>
      assert(ta != tb)
      val (va, vb) = (series(ta), series(tb))
      assert(n == va.length - lagH, "one pair per overlapping grid hour")
      val xs = va.drop(lagH.toInt).map(_.toDouble)
      val ys = vb.dropRight(lagH.toInt).map(_.toDouble)
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val den = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum) *
        math.sqrt(ys.map(y => (y - my) * (y - my)).sum)
      if (den > 0) {
        val expected = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den
        assert(math.abs(ccf.get - expected) < 1e-6,
          s"($ta, $tb) lag $lagH: ${ccf.get} vs naive $expected")
        assert(ccf.get >= -1.0 - 1e-9 && ccf.get <= 1.0 + 1e-9)
      } else assert(ccf.isEmpty)
    }
    // lag 0 is symmetric: ccf(a, b, 0) == ccf(b, a, 0)
    val at0 = rows.filter(_._3 == 0L).map(r => ((r._1, r._2), r._5)).toMap
    at0.foreach { case ((a, b), v) => assert(at0((b, a)) == v) }
  }

  test("span_corrupt equals a driver-side mask replay with exact island merge") {
    import graft.functions.ReplayableHash
    val P = ReplayableHash.P
    val ps = ReplayableHash.params(2, salt = 10)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, t) =>
      val n = t.split(' ').count(_.nonEmpty)
      val mask = collection.mutable.SortedSet[Long]()
      for (pos <- 1 to n) {
        val h0 = ((id % P) * 4099 + pos) % P
        if ((ps(0)._1 * h0 + ps(0)._2) % P % graft.ops.MixOps.SpanRate == 0) {
          val send = math.min(
            pos + (ps(1)._1 * h0 + ps(1)._2) % P % graft.ops.MixOps.SpanMaxLen,
            n.toLong)
          (pos.toLong to send).foreach(mask += _)
        }
      }
      val spans = mask.toSeq.foldLeft((0L, Long.MinValue)) {
        case ((cnt, prev), p) => (if (p == prev + 1) cnt else cnt + 1, p)
      }._1
      (id, n.toLong, spans, mask.size.toLong,
        if (n > 0) Some(mask.size.toDouble / n) else None)
    }.sortBy(_._1).toSeq
    val got = q("q_llm_span_corrupt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(got == expected, "mask layout differs from the driver replay")
    // sanity: overall mask fraction in the designed band (rate 1/20,
    // mean span 3 → ~14% before overlap merge)
    val tot = expected.map(_._2).sum.toDouble
    val msk = expected.map(_._4).sum.toDouble
    assert(msk / tot > 0.05 && msk / tot < 0.3, s"mask rate ${msk / tot}")
  }

  test("integrity audit is clean on the fixture and catches injected orphans") {
    import spark.implicits._
    val rows = q("q_profile_integrity").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 4, "one row per audited fk edge")
    rows.foreach { case (e, n, orph, rate) =>
      assert(n > 0, s"$e child count")
      assert(orph == 0L && rate == 0.0, s"fixture schema must be consistent: $e")
    }
    // inject 3 orphans into a copy of the child: the edge must report them
    val li = graft.ops.table(spark, sfDir, "lineitem")
    val broken = li.select("l_orderkey").limit(0)
      .union(Seq(-1L, -2L, -3L).toDF("l_orderkey"))
      .union(li.select("l_orderkey"))
    val audited = graft.ops.DiagOps.integrityEdge(
        broken, "l_orderkey", graft.ops.table(spark, sfDir, "orders"),
        "o_orderkey", "broken").collect().head
    assert(audited.getLong(2) == 3L, "injected orphans must be counted")
    assert(audited.getDouble(3) ==
      3.0 / (li.count() + 3), "orphan rate over the child count")
  }

  test("seasonal profile: shares sum to 1, deviations mass-balance to 0") {
    val rows = q("q_ts_seasonal").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, hod, n, share, _, _) =>
      assert(hod >= 0 && hod < 24 && n > 0 && share > 0.0 && share <= 1.0)
    }
    rows.groupBy(_._1).foreach { case (t, hs) =>
      assert(math.abs(hs.map(_._4).sum - 1.0) < 1e-9, s"$t shares")
      // count-weighted deviation mass cancels: Σ n·dev = Σ n·mean − N·mean_t
      val wdev = hs.map(h => h._3 * h._6).sum
      val scale = hs.map(h => h._3 * math.abs(h._5)).sum.max(1.0)
      assert(math.abs(wdev) / scale < 1e-9, s"$t deviation mass $wdev")
    }
    val total = graft.ops.table(spark, sfDir, "events").count()
    assert(rows.map(_._3).sum == total, "per-cell counts partition the corpus")
  }

  test("countmin estimates replay exactly and honor the CM guarantees") {
    import graft.functions.ReplayableHash
    val P = ReplayableHash.P
    val ps = ReplayableHash.CountMinParams
    val counts = graft.ops.table(spark, sfDir, "lineitem")
      .groupBy("l_partkey").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // driver-side sketch replay: 4×512 counters, min over rows
    val cells = collection.mutable.Map[(Int, Long), Long]().withDefaultValue(0L)
    counts.foreach { case (k, c) =>
      ps.zipWithIndex.foreach { case ((a, b), r) =>
        cells((r, (a * (k % P) + b) % P % 512)) += c
      }
    }
    def est(k: Long): Long = ps.zipWithIndex.map { case ((a, b), r) =>
      cells((r, (a * (k % P) + b) % P % 512))
    }.min
    val rows = q("q_agg_countmin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20)
    val n = counts.values.sum
    rows.foreach { case (k, cTrue, cEst, over) =>
      assert(cTrue == counts(k))
      assert(cEst == est(k), s"key $k: sketch read differs from replay")
      assert(over == cEst - cTrue && over >= 0, "CM never underestimates")
      // deterministic worst-case: one row's collision mass is bounded by
      // the total stream count; in practice (4 rows, 512 cols, ~2k keys)
      // the min-row overestimate stays well under N/width × depth
      assert(over <= 4L * n / 512L, s"key $k overestimate $over implausible")
    }
    // the top-20 set is the exact heavy-hitter head, same order
    val expectTop = counts.toSeq.sortBy { case (k, c) => (-c, k) }.take(20)
    assert(rows.map(r => (r._1, r._2)).toSeq == expectTop)
  }

  test("diversity profile equals a driver-side HHI replay") {
    val docs = graft.ops.table(spark, sfDir, "documents")
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).toSeq.map { case (src, ds) =>
      val n = ds.length.toLong
      val cs = ds.groupBy(_._2).values.map(_.length.toLong)
      val sc2 = cs.map(c => c * c).sum
      val hhi = sc2.toDouble / n / n
      (src, n, cs.size.toLong, hhi, 1.0 - hhi, 1.0 / hhi)
    }.sortBy(_._1)
    val got = q("q_agg_diversity").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected, "diversity profile differs from the replay")
    got.foreach { case (_, _, nl, hhi, gini, eff) =>
      assert(hhi >= 1.0 / nl - 1e-12 && hhi <= 1.0 + 1e-12)
      assert(gini >= -1e-12 && gini < 1.0)
      assert(eff >= 1.0 - 1e-12 && eff <= nl + 1e-9)
    }
  }

  test("KS drift test equals a driver-side exact-D replay (r13)") {
    // math.round rounds negative .5 ties toward +inf — use the HALF_UP
    // BigDecimal path only if negatives existed; fixture values are >= 0
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val hmid = (ev.map(_._1).min + ev.map(_._1).max) / 2
    val expected = ev.groupBy(_._2).toSeq.map { case (t, es) =>
      val (a, b) = es.partition(_._1 <= hmid)
      val (n1, n2) = (a.length.toLong, b.length.toLong)
      val c1 = a.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      val c2 = b.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      val cents = (c1.keySet ++ c2.keySet).toSeq.sorted
      var (cum1, cum2, dnum) = (0L, 0L, 0L)
      cents.foreach { c =>
        cum1 += c1.getOrElse(c, 0L); cum2 += c2.getOrElse(c, 0L)
        dnum = math.max(dnum, math.abs(cum1 * n2 - cum2 * n1))
      }
      val ksD = dnum.toDouble / n1 / n2
      val crit = 1.358 * math.sqrt((n1 + n2).toDouble / n1 / n2)
      (t, n1, n2, dnum, ksD, crit, ksD > crit)
    }.sortBy(_._1)
    val got = q("q_profile_ks_drift").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toSeq
    assert(got == expected, "KS statistic differs from the exact replay")
    got.foreach { case (_, n1, n2, dnum, ksD, _, _) =>
      assert(n1 > 0 && n2 > 0)
      assert(dnum >= 0 && dnum <= n1 * n2, "0 <= D <= 1 in the exact scale")
      assert(ksD >= 0.0 && ksD <= 1.0)
    }
  }

  test("drift audit equals a driver-side chi-square replay, same fold order") {
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"), col("value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val hmid = (ev.map(_._1).min + ev.map(_._1).max) / 2
    val (a, b) = ev.partition(_._1 <= hmid)
    def hist(xs: Array[(Long, Double)]) = xs.groupBy(e =>
      math.round(e._2 * 100) / 4096).view.mapValues(_.length.toLong).toMap
    val (h1, h2) = (hist(a), hist(b))
    val (n1, n2) = (a.length.toLong, b.length.toLong)
    val terms = (h1.keySet ++ h2.keySet).toSeq.sorted.map { bkt =>
      val (c1, c2) = (h1.getOrElse(bkt, 0L), h2.getOrElse(bkt, 0L))
      (c1 * n2 - c2 * n1).toDouble * (c1 * n2 - c2 * n1).toDouble /
        (c1 + c2).toDouble / n1 / n2
    }
    val chi2 = terms.foldLeft(0.0)(_ + _)
    def mean(xs: Array[(Long, Double)]) = xs.map(e =>
      BigDecimal(e._2).setScale(4, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble / xs.length
    val r = q("q_profile_drift").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((n1, n2, (h1.keySet ++ h2.keySet).size.toLong)))
    assert(r.getDouble(3) == mean(a) && r.getDouble(4) == mean(b))
    assert(r.getDouble(5) == chi2, s"chi2 ${r.getDouble(5)} vs replay $chi2")
    assert(chi2 >= 0.0)
  }

  test("ADF unit-root t equals a driver-side staged replay, same FP order (r13)") {
    val split = 1073741824L
    val rows = q("q_ts_adf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.length == 5)
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (h0, h1) = (ev.map(_._1).min, ev.map(_._1).max)
    rows.foreach { case (t, n, rho, adfT, rej) =>
      val sums = ev.filter(_._2 == t).groupBy(_._1).view.mapValues(
        _.map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum).toMap
      val ks = (h0 to h1).map(h => (sums.getOrElse(h, BigDecimal(0)) * 100).toLong)
      val pairs = ks.sliding(2).map(w => (w(0), w(1))).toSeq
      assert(n == pairs.length)
      val m = pairs.length.toLong
      def hiLo(f: ((Long, Long)) => Long): Double = {
        val hi = pairs.map(p => f(p) / split).sum
        val lo = pairs.map(p => f(p) % split).sum
        hi.toDouble * split.toDouble + lo.toDouble
      }
      val (sxd, syd) = (pairs.map(_._1).sum.toDouble, pairs.map(_._2).sum.toDouble)
      val (sxxd, sxyd, syyd) = (hiLo(p => p._1 * p._1),
        hiLo(p => p._1 * p._2), hiLo(p => p._2 * p._2))
      // the staged chain, op for op
      val den = m * sxxd - sxd * sxd
      val rhoR = (m * sxyd - sxd * syd) / den
      val alpha = (syd - rhoR * sxd) / m
      val sse = syyd - alpha * syd - rhoR * sxyd
      val tR = (rhoR - 1.0) / math.sqrt(sse / (m - 2) * m / den)
      assert(rho == rhoR, s"$t: rho $rho vs replay $rhoR")
      assert(adfT == tR, s"$t: adf_t $adfT vs replay $tR")
      assert(rej == (tR < -2.86))
    }
  }

  test("Granger F equals a driver-side staged replay, same FP order (r14)") {
    val split = 1073741824L
    val rows = q("q_ts_granger").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))))
      .toMap
    assert(rows.nonEmpty)
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (h0, h1) = (ev.map(_._1).min, ev.map(_._1).max)
    val types = ev.map(_._2).distinct.sorted
    def grid(t: String): IndexedSeq[Long] = {
      val sums = ev.filter(_._2 == t).groupBy(_._1).view.mapValues(
        _.map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum).toMap
      (h0 to h1).map(h => (sums.getOrElse(h, BigDecimal(0)) * 100).toLong)
    }
    val grids = types.map(t => t -> grid(t)).toMap
    var checked = 0
    for (dst <- types; src <- types if src != dst) {
      val kd = grids(dst); val ks = grids(src)
      // triples (y_t, y_{t-1}, x_{t-1}) over the shared hour axis
      val tri = (1 until kd.length).map(i => (kd(i), kd(i - 1), ks(i - 1)))
      val m = tri.length.toLong
      def hiLo(f: ((Long, Long, Long)) => Long): Double = {
        val hi = tri.map(p => f(p) / split).sum
        val lo = tri.map(p => f(p) % split).sum
        hi.toDouble * split.toDouble + lo.toDouble
      }
      val sx1d = tri.map(_._2).sum.toDouble
      val sx2d = tri.map(_._3).sum.toDouble
      val syd = tri.map(_._1).sum.toDouble
      val sx1x1d = hiLo(p => p._2 * p._2)
      val sx2x2d = hiLo(p => p._3 * p._3)
      val sx1x2d = hiLo(p => p._2 * p._3)
      val sx1yd = hiLo(p => p._2 * p._1)
      val sx2yd = hiLo(p => p._3 * p._1)
      val syyd = hiLo(p => p._1 * p._1)
      // the staged chain, op for op
      val s11 = sx1x1d - sx1d * sx1d / m
      val s22 = sx2x2d - sx2d * sx2d / m
      val s12 = sx1x2d - sx1d * sx2d / m
      val s1y = sx1yd - sx1d * syd / m
      val s2y = sx2yd - sx2d * syd / m
      val syy = syyd - syd * syd / m
      val det = s11 * s22 - s12 * s12
      if (det > 0 && s11 > 0) {
        val b1 = (s1y * s22 - s2y * s12) / det
        val b2 = (s2y * s11 - s1y * s12) / det
        val sseU = syy - b1 * s1y - b2 * s2y
        val sseR = syy - s1y * s1y / s11
        if (sseU > 0) {
          val f = (sseR - sseU) * (m - 3) / sseU
          val (n, coef, fGot, rej) = rows((dst, src))
          assert(n == m, s"$dst<-$src: n_pairs")
          assert(coef == b2, s"$dst<-$src: cross_coef $coef vs replay $b2")
          assert(fGot == f, s"$dst<-$src: f_stat $fGot vs replay $f")
          assert(rej == (f > 3.84))
          checked += 1
        }
      }
    }
    assert(checked == rows.size, "replay covered every emitted pair")
    assert(checked >= types.size, "most pairs should survive the guards")
    // sanity: restricted SSE can never beat unrestricted → F ≥ 0
    rows.values.foreach { case (_, _, f, _) => assert(f >= 0.0) }
  }

  test("Engle-Granger coint equals a driver-side two-step replay, same FP order (r14)") {
    val split = 1073741824L
    val rows = q("q_ts_coint").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getBoolean(6)))).toMap
    assert(rows.nonEmpty)
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (h0, h1) = (ev.map(_._1).min, ev.map(_._1).max)
    val types = ev.map(_._2).distinct.sorted
    def grid(t: String): IndexedSeq[Long] = {
      val sums = ev.filter(_._2 == t).groupBy(_._1).view.mapValues(
        _.map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum).toMap
      (h0 to h1).map(h => (sums.getOrElse(h, BigDecimal(0)) * 100).toLong)
    }
    val grids = types.map(t => t -> grid(t)).toMap
    var checked = 0
    for (dst <- types; src <- types if src != dst) {
      val ys = grids(dst); val xs = grids(src)
      val m0 = ys.length.toLong
      def hiLo(f: Int => Long): Double = {
        val hi = ys.indices.map(i => f(i) / split).sum
        val lo = ys.indices.map(i => f(i) % split).sum
        hi.toDouble * split.toDouble + lo.toDouble
      }
      val sxd = xs.sum.toDouble; val syd = ys.sum.toDouble
      val sxxd = hiLo(i => xs(i) * xs(i))
      val sxyd = hiLo(i => xs(i) * ys(i))
      if (m0 * sxxd - sxd * sxd > 0) {
        val beta = (m0 * sxyd - sxd * syd) / (m0 * sxxd - sxd * sxd)
        val alpha0 = (syd - beta * sxd) / m0
        val e = ys.indices.map(i => (ys(i).toDouble - alpha0) - beta * xs(i).toDouble)
        // the five ordered folds, left-associated like aggregate()
        def fold(f: Int => Double): Double =
          (1 until e.length).foldLeft(0.0)((acc, i) => acc + f(i))
        val m = (e.length - 1).toLong
        val fsx = fold(i => e(i - 1)); val fsy = fold(i => e(i))
        val fsxx = fold(i => e(i - 1) * e(i - 1))
        val fsxy = fold(i => e(i - 1) * e(i))
        val fsyy = fold(i => e(i) * e(i))
        // the shared adfStage chain, op for op
        val rho = (m * fsxy - fsx * fsy) / (m * fsxx - fsx * fsx)
        val den = m * fsxx - fsx * fsx
        if (den > 0) {
          val alpha = (fsy - rho * fsx) / m
          val sse = fsyy - alpha * fsy - rho * fsxy
          if (sse > 0) {
            val t = (rho - 1.0) / math.sqrt(sse / (m - 2) * m / den)
            val (n, betaGot, rhoGot, tGot, rej) = rows((dst, src))
            assert(n == m, s"$dst~$src: n_pairs")
            assert(betaGot == beta, s"$dst~$src: beta")
            assert(rhoGot == rho, s"$dst~$src: rho")
            assert(tGot == t, s"$dst~$src: resid_adf_t $tGot vs replay $t")
            assert(rej == (t < -3.34))
            checked += 1
          }
        }
      }
    }
    assert(checked == rows.size, "replay covered every emitted pair")
  }

  test("Cramér's V equals a driver-side ordered-fold replay (r14)") {
    val rows = q("q_profile_cramers_v").collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(rows.keySet == Set("status_x_priority", "segment_x_nation"))
    def replay(pairs: Seq[(String, String)]): (Long, Long, Long, Double, Double) = {
      val cells = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val ra = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val cb = pairs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val n = pairs.size.toLong
      val chi2 = cells.toSeq.sortBy(_._1).foldLeft(0.0) {
        case (acc, ((a, b), c)) =>
          val t = c * n - ra(a) * cb(b)
          acc + t.toDouble * t.toDouble / n.toDouble /
            ra(a).toDouble / cb(b).toDouble
      }
      val v = math.sqrt(
        chi2 / (n.toDouble * math.min(ra.size - 1, cb.size - 1)))
      (n, ra.size.toLong, cb.size.toLong, chi2, v)
    }
    val ord = graft.ops.table(spark, sfDir, "orders")
      .select("o_orderstatus", "o_orderpriority").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val cust = graft.ops.table(spark, sfDir, "customer")
      .selectExpr("c_mktsegment", "CAST(c_nationkey AS STRING)").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows("status_x_priority") == replay(ord))
    assert(rows("segment_x_nation") == replay(cust))
    // independence fixture: both Vs live in [0, 1]
    rows.values.foreach { case (_, _, _, chi2, v) =>
      assert(chi2 >= 0.0 && v >= 0.0 && v <= 1.0)
    }
  }

  test("categorical quanta-MI: exact replay + the joint >= max-marginal bound (r14)") {
    def ilog2(n: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(n)
    val rows = q("q_profile_cat_mi").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(rows.keySet == Set("status_x_priority", "segment_x_nation"))
    def replay(pairs: Seq[(String, String)]): (Long, Long, Long, Long, Long, Double) = {
      val n = pairs.size.toLong
      def hq(groups: Map[_, Long]): Long =
        n * ilog2(n) - groups.values.map(c => c * ilog2(c)).sum
      val hA = hq(pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap)
      val hB = hq(pairs.groupBy(_._2).view.mapValues(_.size.toLong).toMap)
      val hAB = hq(pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap)
      val mi = hA + hB - hAB
      (n, hA, hB, hAB, mi, mi.toDouble / n)
    }
    val ord = graft.ops.table(spark, sfDir, "orders")
      .select("o_orderstatus", "o_orderpriority").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val cust = graft.ops.table(spark, sfDir, "customer")
      .selectExpr("c_mktsegment", "CAST(c_nationkey AS STRING)").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows("status_x_priority") == replay(ord))
    assert(rows("segment_x_nation") == replay(cust))
    // the ONE safe quanta order relation (r10): joint >= each marginal,
    // so mi_q <= min(h_a_q, h_b_q) with NO slack
    rows.values.foreach { case (_, hA, hB, hAB, mi, _) =>
      assert(hAB >= math.max(hA, hB), "joint quanta entropy below a marginal")
      assert(mi <= math.min(hA, hB))
    }
  }

  test("Hurst R/S profile equals a driver-side exact replay (r13)") {
    val split = 1073741824L
    val rows = q("q_ts_hurst").collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(rows.nonEmpty)
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (h0, h1) = (ev.map(_._1).min, ev.map(_._1).max)
    val types = ev.map(_._2).distinct.sorted
    for (t <- types; wd <- Seq(64L, 256L)) {
      val sums = ev.filter(_._2 == t).groupBy(_._1).view.mapValues(
        _.map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum).toMap
      val ks = (h0 to h1).map(h => (sums.getOrElse(h, BigDecimal(0)) * 100).toLong)
      val wins = ks.grouped(wd.toInt).filter(_.length == wd).toSeq
      val rss = wins.flatMap { w =>
        val tot = w.sum
        val wz = w.scanLeft(0L)(_ + _).drop(1).zipWithIndex.map {
          case (pk, i) => wd * pk - (i + 1) * tot }
        val rw = math.max(wz.max, 0L) - math.min(wz.min, 0L)
        val s2 = wd * (w.map(k => k * k / split).sum.toDouble * split +
          w.map(k => k * k % split).sum.toDouble) - tot.toDouble * tot.toDouble
        if (s2 > 0.0) Some(rw.toDouble / math.sqrt(s2)) else None
      }
      if (rss.nonEmpty) {
        val (nW, meanRs) = rows((t, wd))
        assert(nW == rss.length.toLong, s"$t/$wd window count")
        assert(meanRs == rss.foldLeft(0.0)(_ + _) / rss.length,
          s"$t/$wd mean R/S drift")
        assert(meanRs > 0.0)
      } else assert(!rows.contains((t, wd)))
    }
  }

  test("trend equals a driver-side OLS replay, same FP order") {
    val rows = q("q_ts_trend").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(rows.nonEmpty)
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (h0, h1) = (ev.map(_._1).min, ev.map(_._1).max)
    val split = 1073741824L
    rows.foreach { case (t, n, slope, icpt, r2) =>
      val sums = ev.filter(_._2 == t).groupBy(_._1).view.mapValues(
        _.map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum).toMap
      val ks = (h0 to h1).map(h => (sums.getOrElse(h, BigDecimal(0)) * 100).toLong)
      assert(n == ks.length)
      val xs = ks.indices.map(_.toLong)
      val (sxd, syd) = (xs.sum.toDouble, ks.sum.toDouble)
      val sxxd = xs.map(x => x * x).sum.toDouble
      val sxyd = xs.zip(ks).map { case (x, k) => x * k }.sum.toDouble
      val syyhi = ks.map(k => k * k / split).sum.toDouble
      val syylo = ks.map(k => k * k % split).sum.toDouble
      val syy = syyhi * split.toDouble + syylo
      val num = n * sxyd - sxd * syd
      val den = n * sxxd - sxd * sxd
      assert(slope == num / den / 100.0, s"$t slope")
      assert(icpt == (syd - num / den * sxd) / n / 100.0, s"$t intercept")
      val dy = n * syy - syd * syd
      if (dy > 0) {
        assert(r2.contains(num * num / (den * dy)), s"$t r2")
        assert(r2.get >= -1e-12 && r2.get <= 1.0 + 1e-9)
      } else assert(r2.isEmpty)
    }
  }

  test("changepoint equals an exhaustive driver-side split search") {
    val rows = q("q_ts_changepoint").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (h0, h1) = (ev.map(_._1).min, ev.map(_._1).max)
    val series = ev.groupBy(_._2).map { case (t, es) =>
      val sums = es.groupBy(_._1).view.mapValues(
        _.map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum).toMap
      t -> (h0 to h1).map(h =>
        (sums.getOrElse(h, BigDecimal(0)) * 100).toLong).toArray
    }
    rows.foreach { case (t, splitH, nLeft, gain, ml, mr) =>
      val v = series(t)
      val n = v.length.toLong
      val sd = v.sum.toDouble
      // exhaustive split search with the engine's exact FP formula
      val best = (1L until n).map { n1 =>
        val s1d = v.take(n1.toInt).sum.toDouble
        val g = s1d * s1d / n1 + (sd - s1d) * (sd - s1d) / (n - n1) - sd * sd / n
        (h0 + n1 - 1, n1, g, s1d)
      }.maxBy { case (h, _, g, _) => (g, -h) }
      assert((splitH, nLeft, gain) == ((best._1, best._2, best._3)),
        s"$t: split $splitH/$nLeft/$gain vs replay $best")
      assert(ml == best._4 / best._2 / 100.0)
      assert(mr == (sd - best._4) / (n - best._2) / 100.0)
      assert(gain >= -1e-6, "the optimal split gain is non-negative")
    }
  }

  test("ewma equals a driver-side truncated geometric-weight replay") {
    val rows = q("q_ts_ewma").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // driver-side series replay: zero-filled hourly cent sums per type
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (h0, h1) = (ev.map(_._1).min, ev.map(_._1).max)
    val series = ev.groupBy(_._2).map { case (t, es) =>
      val sums = es.groupBy(_._1).view.mapValues(
        _.map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum).toMap
      t -> (h0 to h1).map(h =>
        (sums.getOrElse(h, BigDecimal(0)) * 100).toLong).toArray
    }
    val nHours = (h1 - h0 + 1)
    assert(rows.length == series.size * nHours, "one row per grid cell")
    rows.foreach { case (t, hourIdx, nLags, ewma) =>
      val v = series(t)
      val i = (hourIdx - h0).toInt
      val lags = (0 until math.min(8, i + 1)).toSeq
      assert(nLags == lags.length, "lag count adapts near the series start")
      val num = lags.map(l => (1L << (7 - l)) * v(i - l)).sum
      val den = lags.map(l => 1L << (7 - l)).sum
      assert(ewma == num.toDouble / den / 100.0,
        s"$t hour $hourIdx: $ewma vs naive ${num.toDouble / den / 100.0}")
    }
    // smoothing sanity: the EWMA series has no larger range than the raw one
    series.foreach { case (t, v) =>
      val sm = rows.filter(_._1 == t).map(_._4)
      assert(sm.max <= v.max / 100.0 + 1e-9 && sm.min >= v.min / 100.0 - 1e-9)
    }
  }

  test("ohlc bars agree with a driver-side recomputation on the fixture") {
    val rows = q("q_ts_ohlc").collect()
    assert(rows.nonEmpty)
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(expr("unix_micros(ts)").as("us"), col("event_id"),
        col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val groups = ev.groupBy { case (us, _, t, _) => (t, us / 3600000000L) }
    assert(rows.length == groups.size, "one bar per non-empty (type, hour)")
    rows.foreach { r =>
      val g = groups((r.getString(0), r.getLong(1)))
        .sortBy { case (us, id, _, _) => (us, id) }
      assert(r.getLong(2) == g.length)
      assert(r.getDouble(3) == g.head._4, "open = value at min (ts, event_id)")
      assert(r.getDouble(4) == g.map(_._4).max, "high")
      assert(r.getDouble(5) == g.map(_._4).min, "low")
      assert(r.getDouble(6) == g.last._4, "close = value at max (ts, event_id)")
      val vol = g.map(t => BigDecimal(t._4)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      assert(r.getDouble(7) == vol, "volume is the exact DECIMAL(18,4) sum")
    }
  }

  test("sample_k returns exactly k rows, deterministically, ranked by hash") {
    val a = q("q_llm_sample_k").collect()
    val b = q("q_llm_sample_k").collect()
    assert(a.toSeq == b.toSeq)
    val total = graft.ops.table(spark, sfDir, "documents").count()
    assert(a.length == math.min(100L, total))
    // facade with a different k nests: smaller samples are prefixes
    val ids10 = Pipelines.sampleK(
      graft.ops.table(spark, sfDir, "documents"), 10)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    val ids25 = Pipelines.sampleK(
      graft.ops.table(spark, sfDir, "documents"), 25)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(ids25.take(10) == ids10)
  }

  test("agg_mode picks the per-user majority event type with the declared tie-break") {
    val ev = graft.ops.table(spark, sfDir, "events")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = ev.groupBy(_._1).map { case (u, rows) =>
      val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val best = counts.toSeq.minBy { case (t, c) => (-c, t) }
      (u, best)
    }
    val got = q("q_agg_mode").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("agg_skew matches a driver-side exact-moment recomputation") {
    val vals = graft.ops.table(spark, sfDir, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val expected: Map[String, (Double, Double)] =
      vals.groupBy(_._1).map { case (t, rows) =>
        val ks = rows.map(r => math.round(r._2 * 100).toDouble)
        val n = ks.length.toDouble
        val m = ks.sum / n
        def cm(p: Int) = ks.map(k => math.pow(k - m, p)).sum / n
        t -> ((cm(3) / math.pow(cm(2), 1.5), cm(4) / (cm(2) * cm(2)) - 3.0))
      }
    q("q_agg_skew").collect().foreach { r =>
      val (t, sk, ku) = (r.getString(0), r.getDouble(2), r.getDouble(3))
      assert(math.abs(sk - expected(t)._1) < 1e-6, s"$t skew $sk vs ${expected(t)._1}")
      assert(math.abs(ku - expected(t)._2) < 1e-6, s"$t kurt $ku vs ${expected(t)._2}")
    }
  }

  test("stream_join equals the brute-force interval join on the fixture") {
    val ev = graft.ops.table(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicks = ev.filter(_._3 == "click")
    val purchases = ev.filter(_._3 == "purchase")
    val expected = (for {
      (cid, cu, _, cus) <- clicks
      (pid, pu, _, pus) <- purchases
      if pu == cu && pus > cus && pus <= cus + 3600000000L
    } yield (cu, cid, pid, pus - cus)).toSet
    val got = q("q_stream_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture should produce at least one joined pair")
  }

  test("cluster_stats partitions the corpus exactly") {
    val rows = q("q_llm_cluster_stats").collect()
    rows.foreach(r => assert(r.getLong(2) == r.getLong(0) * r.getLong(1)))
    val total = rows.map(_.getLong(2)).sum
    assert(total == graft.ops.table(spark, sfDir, "documents").count())
  }

  test("text roundtrip preserves per-lang doc counts") {
    val rt = q("q_src_text_roundtrip")
      .agg(sum("n_docs")).head().getLong(0)
    assert(rt == graft.ops.table(spark, sfDir, "documents").count())
  }

  test("chunk_overlap covers every token with 48-token strides and clipped tails") {
    val rows = q("q_llm_chunk_overlap")
      .select("doc_id", "n_tokens", "chunk_id", "start", "chunk_len")
      .collect().groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_.getLong(2))
      val n = sorted.head.getLong(1)
      // starts are exactly 0, 48, 96, ... ≤ n-1
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(2) == i && r.getLong(3) == i * 48L,
          s"doc $doc chunk $i starts at ${r.getLong(3)}")
        assert(r.getLong(4) == math.min(64L, n - r.getLong(3)))
      }
      // last chunk reaches the final token; stride < window ⇒ full coverage
      val last = sorted.last
      assert(last.getLong(3) + last.getLong(4) == n)
      assert(last.getLong(3) <= n - 1)
    }
  }

  test("stratified_sample takes exactly min(5, stratum size) smallest-hash docs per source") {
    val perSource = graft.ops.table(spark, sfDir, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = q("q_llm_stratified_sample").collect()
      .groupBy(_.getString(0))
    assert(got.keySet == perSource.filter(_._2 > 0).keySet)
    got.foreach { case (src, rows) =>
      assert(rows.length == math.min(5L, perSource(src)))
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq)
      // hashes are ascending with rank (the k SMALLEST, not arbitrary k)
      val byRn = rows.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(byRn.toSeq == byRn.sorted.toSeq)
    }
  }

  test("dataset_diff statuses partition v1 ∪ v2 and match the bucket rules") {
    val rows = q("q_llm_dataset_diff").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val v1 = graft.ops.table(spark, sfDir, "documents")
    // every v1 doc and every added doc id is classified, nothing else;
    // clones live in the negative id space (-doc_id - 1), disjoint from
    // any live non-negative doc_id
    val added = rows.keys.filter(_ < 0L)
    assert(rows.size == v1.count() + added.size)
    added.foreach(id => assert(rows(id) == "added"))
    assert(rows.values.toSet.subsetOf(
      Set("added", "removed", "changed", "unchanged")))
    // every non-added class is present on the fixture
    assert(Seq("removed", "changed", "unchanged")
      .forall(c => rows.values.exists(_ == c)))
    // an added clone's source doc must itself be unchanged (bucket ≥ 95)
    added.foreach(id => assert(rows(-id - 1L) == "unchanged"))
  }

  test("rank-histogram memo is result-invisible: cold and warm runs agree") {
    val warm1 = q("q_agg_percentile").collect().toSeq
    graft.ops.IndexCache.clear()
    val cold = q("q_agg_percentile").collect().toSeq   // rebuilds the index
    val warm2 = q("q_agg_percentile").collect().toSeq  // memo hit
    assert(cold == warm1 && warm2 == cold)
  }

  test("token_budget allocations sum to exactly the budget, each within 1 of exact share") {
    val rows = q("q_llm_token_budget").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val budget = 1000000L
    assert(rows.map(_._3).sum == budget)
    val total = rows.map(_._2).sum
    rows.foreach { case (src, n, alloc) =>
      val exact = BigInt(budget) * n / total // floor of the exact share
      assert(alloc == exact.toLong || alloc == exact.toLong + 1,
        s"$src: alloc $alloc not within 1 of exact $exact")
    }
  }

  test("weighted_sample equals a driver-side sequential-Poisson replay and is length-biased") {
    val P = graft.functions.ReplayableHash.P
    val (a, b) = graft.functions.ReplayableHash.params(1, salt = 9).head
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = docs.map { case (id, src, nc) =>
      val h = (a * (id % P) + b) % P
      (id, src, nc, (h << 20) / math.max(nc, 1L))
    }.sortBy(t => (t._4, t._1)).take(100).toSeq
    val got = q("q_llm_weighted_sample").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, "sample membership, priorities, or order differ")
    // the length bias the sampler exists for: the weighted draw's mean doc
    // length must exceed the corpus mean (weights ∝ n_chars)
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    val sampleMean = got.map(_._3).sum.toDouble / got.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("dup_rate_by_source totals reconcile with the corpus and cluster index") {
    val rows = q("q_llm_dup_rate_by_source").collect()
    val totalDocs = rows.map(_.getLong(1)).sum
    assert(totalDocs == graft.ops.table(spark, sfDir, "documents").count())
    rows.foreach { r =>
      val (n, dup, clusters, rate) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(dup >= 0 && dup <= n)
      assert(clusters >= 1 && clusters <= n)
      assert(math.abs(rate - dup.toDouble / n) == 0.0)
    }
  }

  test("packing_efficiency equals a driver-side replay; waste falls as ctx shrinks") {
    val toks = ops.table(spark, sfDir, "documents")
      .select("text").collect()
      .map(_.getString(0).split(" ").count(_.nonEmpty).toLong)
      .filter(_ > 0)
    val got = q("q_llm_packing_efficiency").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.map(_._1).toSeq == Seq(256L, 512L, 1024L, 2048L))
    got.foreach { case (ctx, nDocs, total, pad, concat, waste) =>
      val expPad = toks.map(t => (t + ctx - 1) / ctx).sum
      assert(nDocs == toks.length.toLong && total == toks.sum)
      assert(pad == expPad, s"ctx $ctx pad chunks")
      assert(concat == (total + ctx - 1) / ctx)
      assert(waste == 1.0 - total.toDouble / (pad * ctx))
      // concat packing never pads more than per-doc padding
      assert(concat <= pad)
    }
    // padding waste is monotone in ctx on any fixed corpus
    val wastes = got.map(_._6).toSeq
    assert(wastes == wastes.sorted, "waste must grow with ctx")
  }

  test("forecast_naive equals a driver-side lag-24 backtest replay") {
    val ev = ops.table(spark, sfDir, "events")
      .selectExpr("event_type", "unix_micros(ts) div 3600000000 AS h", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val h0 = ev.map(_._2).min
    val h1 = ev.map(_._2).max
    val sums = ev.groupBy(e => (e._1, e._2)).view
      .mapValues(es => math.round(es.map(x =>
        BigDecimal(x._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble * 100)).toMap
    val got = q("q_ts_forecast_naive").collect()
    assert(got.length == ev.map(_._1).distinct.length)
    got.foreach { r =>
      val t = r.getString(0)
      val series = (h0 to h1).map(h => sums.getOrElse((t, h), 0L))
      val scored = (24 until series.length)
        .map(i => (series(i), series(i - 24)))
      val sae = scored.map { case (k, f) => math.abs(k - f) }.sum
      val se = scored.map { case (k, f) => k - f }.sum
      assert(r.getLong(1) == scored.length.toLong, s"$t: n_scored")
      assert(r.getDouble(2) == sae.toDouble / scored.length / 100, s"$t: mae")
      assert(r.getDouble(3) == se.toDouble / scored.length / 100, s"$t: bias")
      assert(r.getDouble(2) >= math.abs(r.getDouble(3)),
        s"$t: MAE must dominate |bias|")
    }
  }

  test("anomaly_mad equals a driver-side median/MAD replay") {
    val ev = ops.table(spark, sfDir, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def lowerMedianCents(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s(((s.length + 1) / 2) - 1)
    }
    val byType = ev.groupBy(_._1)
    val got = q("q_ts_anomaly_mad").collect()
    assert(got.length == byType.size)
    got.foreach { r =>
      val t = r.getString(0)
      val vals = byType(t).map(_._2).toSeq
      val cents = vals.map(v => math.round(v * 100))
      val medC = lowerMedianCents(cents)
      // the engine surfaces the ORIGINAL double at the median rank
      val medV = vals.filter(v => math.round(v * 100) == medC).head
      val devs = cents.map(c => math.abs(c - medC))
      val madC = lowerMedianCents(devs)
      val outliers = devs.count(_ > 3 * madC).toLong
      assert(r.getLong(1) == vals.length.toLong, s"$t: n")
      assert(r.getDouble(2) == medV, s"$t: median")
      assert(r.getDouble(3) == madC.toDouble / 100.0, s"$t: MAD")
      assert(r.getLong(4) == outliers, s"$t: outlier count")
      assert(r.getDouble(5) == outliers.toDouble / vals.length, s"$t: rate")
      // robustness: the outlier gate must flag a small minority, and MAD
      // must be no larger than the worst absolute deviation
      assert(outliers * 5 <= vals.length, s"$t flags too much")
      assert(madC <= devs.max)
    }
  }

  test("profile_corr equals a driver-side exact-moment replay") {
    val rows = ops.table(spark, sfDir, "lineitem")
      .select("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      .collect()
      .map(r => Array(r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)).map(v => BigDecimal(v * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val names = Seq("di", "ep", "qt", "tx")
    val n = rows.length.toLong
    def s(i: Int) = rows.map(_(i)).sum.toDouble
    def m(i: Int, j: Int) = {
      val hi = rows.map(r => (r(i) * r(j)) / 1073741824L).sum.toDouble
      val lo = rows.map(r => (r(i) * r(j)) % 1073741824L).sum.toDouble
      hi * 1073741824.0 + lo
    }
    def corr(i: Int, j: Int) =
      (n * m(i, j) - s(i) * s(j)) /
        math.sqrt(n * m(i, i) - s(i) * s(i)) /
        math.sqrt(n * m(j, j) - s(j) * s(j))
    val got = q("q_profile_corr").collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.size == 6, "six unordered pairs")
    for (i <- names.indices; j <- (i + 1) until names.length) {
      val (gn, gc) = got((names(i), names(j)))
      assert(gn == n)
      assert(gc == corr(i, j), s"corr(${names(i)},${names(j)}) differs")
      assert(gc >= -1.0 - 1e-12 && gc <= 1.0 + 1e-12)
    }
    // the fixture draws its four measures INDEPENDENTLY (unlike TPC-H,
    // where extendedprice = qty x unit price), so the honest report is
    // every |r| small — pin that the operator does not hallucinate
    // structure that is not there
    got.values.foreach { case (_, c) =>
      assert(math.abs(c) < 0.2, s"spurious correlation $c on independent draws")
    }
  }

  test("lttb downsample picks the exact integer-area argmax per interior bucket") {
    val hourUs = 3600000000L
    val rows = q("q_ts_downsample").collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(rows.nonEmpty)
    val ev = graft.ops.table(spark, sfDir, "events")
      .selectExpr("event_type", "unix_micros(ts) AS x",
        "CAST(round(value * 100) AS BIGINT) AS y")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val x0 = ev.map(_._2).min
    val byBucket = ev.groupBy(e => (e._1, e._2 / hourUs))
    val aggs = byBucket.view.mapValues(v =>
      (v.size.toLong, v.map(e => e._2 - x0).sum, v.map(_._3).sum)).toMap
    var matched = 0
    byBucket.foreach { case ((et, bkt), pts) =>
      (aggs.get((et, bkt - 1)), aggs.get((et, bkt + 1))) match {
        case (Some((np, sxp, syp)), Some((nn, sxn, syn))) =>
          val sel = pts.map { case (_, x, y) =>
            val xr = BigInt(x - x0)
            val score = ((BigInt(sxp) * nn - BigInt(sxn) * np)
              * (BigInt(y) * np - syp)
              - (BigInt(sxp) - xr * np)
                * (BigInt(syn) * np - BigInt(syp) * nn)).abs
            (score, x, y)
          }.maxBy(t => (t._1, -t._2))
          val got = rows((et, bkt))
          assert(got._1 == sel._2, s"selected ts at ($et, $bkt)")
          assert(got._2 == sel._3.toDouble / 100, s"selected value at ($et, $bkt)")
          assert(got._3 == pts.size.toLong)
          matched += 1
        case _ =>
          assert(!rows.contains((et, bkt)), "edge bucket must not be emitted")
      }
    }
    assert(matched == rows.size && matched > 0)
  }

  test("mix_alpha: sqrt-weighted largest-remainder allocation replays exactly") {
    val budget = 1000000L
    val rows = q("q_llm_mix_alpha").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.map(_._4).sum == budget, "allocations must sum to the budget")
    // driver replay: same ordered weight total, same quotas, same ranking
    val n = rows.map(r => r._1 -> r._2).toMap
    val srcs = rows.map(_._1).sorted.toSeq
    val w = srcs.map(s => s -> math.sqrt(n(s).toDouble)).toMap
    val wtot = srcs.foldLeft(0.0)((acc, s) => acc + w(s)) // source-asc order
    val quota = srcs.map(s => s -> (budget.toDouble * w(s) / wtot)).toMap
    val base = srcs.map(s => s -> quota(s).floor.toLong).toMap
    val leftover = budget - base.values.sum
    val ranked = srcs.sortBy(s => (-(quota(s) - base(s).toDouble), s))
    val topped = ranked.take(leftover.toInt).toSet
    rows.foreach { case (s, _, weight, alloc) =>
      assert(weight == w(s), s"weight mismatch for $s")
      assert(alloc == base(s) + (if (topped(s)) 1L else 0L),
        s"allocation mismatch for $s")
    }
    // the temperature property: the allocation is strictly flatter than
    // proportional — the largest source yields share, the smallest gains
    val tot = rows.map(_._2).sum
    val big = rows.maxBy(_._2); val small = rows.minBy(_._2)
    assert(big._4.toDouble / budget < big._2.toDouble / tot,
      "alpha=0.5 must downsample the largest source")
    assert(small._4.toDouble / budget > small._2.toDouble / tot,
      "alpha=0.5 must upsample the smallest source")
  }

  test("benford audit equals a driver-side first-digit replay (r12)") {
    val rows = q("q_profile_benford").collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq == (1 to 9), "one row per digit, ordered")
    val cents = ops.table(spark, sfDir, "orders")
      .select("o_totalprice").collect().map(r =>
        BigDecimal(r.getDouble(0) * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val expect = cents.map(_.toString.charAt(0).asDigit)
      .filter(d => d >= 1 && d <= 9)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = expect.values.sum
    rows.foreach { case (d, n, share, bshare, dev) =>
      assert(n == expect.getOrElse(d, 0L), s"count of digit $d")
      assert(share == n.toDouble / total)
      assert(bshare == math.log10(1.0 + 1.0 / d))
      assert(dev == math.abs(n.toDouble / total - bshare))
    }
    // shares are a distribution; expected shares sum to 1 analytically
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9)
  }

  test("functional-dependency sweep equals a driver-side replay (r12)") {
    val rows = q("q_profile_fd").collect().map(r =>
      ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9))))
      .toMap
    assert(rows.size == 15, "C(6,2) unordered pairs")
    val li = ops.table(spark, sfDir, "lineitem")
      .selectExpr("l_linenumber", "l_linestatus", "l_orderkey", "l_partkey",
        "l_returnflag", "l_suppkey").collect()
      .map(r => Map(
        "l_linenumber" -> r.get(0).toString, "l_linestatus" -> r.get(1).toString,
        "l_orderkey" -> r.get(2).toString, "l_partkey" -> r.get(3).toString,
        "l_returnflag" -> r.get(4).toString, "l_suppkey" -> r.get(5).toString))
    val n = li.length.toLong
    def nd(cs: Seq[String]) = li.map(m => cs.map(m)).distinct.length.toLong
    rows.foreach { case ((a, b), (nr, nda, ndb, ndab, fab, fba, ka, kb)) =>
      assert(nr == n)
      assert(nda == nd(Seq(a)) && ndb == nd(Seq(b)), s"single nds of ($a, $b)")
      assert(ndab == nd(Seq(a, b)), s"pair nd of ($a, $b)")
      assert(fab == (ndab == nda) && fba == (ndab == ndb))
      assert(ka == (nda == n) && kb == (ndb == n))
      // structure sanity: nd(a,b) >= max side, <= min(n, nda * ndb)
      assert(ndab >= math.max(nda, ndb) && ndab <= n)
    }
    // the composite (orderkey, linenumber) is the table key: orderkey alone
    // must NOT be a key, and orderkey -> linenumber must NOT hold
    val ok = rows(("l_linenumber", "l_orderkey"))
    assert(!ok._7 && !ok._8, "no single-column key among the pair")
    assert(!ok._6, "orderkey does not determine linenumber")
  }

  test("bollinger bands equal a driver-side rolling replay (r12)") {
    import org.apache.spark.sql.functions._
    val rows = q("q_ts_bollinger").collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getBoolean(7)))).toMap
    assert(rows.nonEmpty)
    // driver replay: gapfilled hourly cents per type, rolling 24-row frame
    val ev = ops.table(spark, sfDir, "events")
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"),
        col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val (h0, h1) = (ev.map(_._2).min, ev.map(_._2).max)
    val byTh = ev.groupBy(e => (e._1, e._2)).view.mapValues { es =>
      val s = es.map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
      BigDecimal(s.toDouble * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.toMap
    ev.map(_._1).distinct.foreach { t =>
      val ks = (h0 to h1).map(h => byTh.getOrElse((t, h), 0L))
      for (i <- 23 until ks.length) {
        val w = ks.slice(i - 23, i + 1)
        val n = 24.0
        val s1 = w.sum
        val s2hi = w.map(k => (k * k) / 1073741824L).sum
        val s2lo = w.map(k => (k * k) % 1073741824L).sum
        val mean = s1.toDouble / n
        val s2d = s2hi.toDouble * 1073741824.0 + s2lo.toDouble
        val sd = math.sqrt(math.max(
          (s2d - s1.toDouble * s1.toDouble / n) / (n - 1), 0.0))
        val (v, m, sdv, up, lo, br) = rows((t, h0 + i))
        assert(math.abs(v - ks(i).toDouble / 100) < 1e-9, s"value $t ${h0 + i}")
        assert(math.abs(m - mean / 100) < 1e-6 && math.abs(sdv - sd / 100) < 1e-6)
        assert(up >= m && m >= lo, "band ordering")
        assert(br == (ks(i) > mean + 2 * sd || ks(i) < mean - 2 * sd),
          s"breakout flag $t ${h0 + i}")
      }
    }
  }

  test("kmv distinct sketch equals a driver-side bottom-k replay (r12)") {
    import graft.functions.ReplayableHash
    val K = 64
    val P = ReplayableHash.P
    val (a, b) = ReplayableHash.KmvParams.head
    val rows = q("q_agg_kmv_distinct").collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(rows.nonEmpty)
    val ev = ops.table(spark, sfDir, "events")
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    ev.groupBy(_._1).foreach { case (t, es) =>
      val users = es.map(_._2).distinct
      val hashes = users.map(u => (a * (u % P) + b) % P).distinct.sorted
      val bottom = hashes.take(K)
      val (nExact, size, kth, est) = rows(t)
      assert(nExact == users.length.toLong, s"$t n_exact")
      assert(size == bottom.length.toLong, s"$t sketch_size")
      assert(kth == bottom.last, s"$t kth_hash")
      val expectEst =
        if (bottom.length < K) bottom.length.toDouble
        else (K - 1).toDouble * P.toDouble / bottom.last.toDouble
      assert(est == expectEst, s"$t est_distinct")
      // under capacity the sketch IS exact; at capacity pin the KMV rsd
      // band (generous 4/sqrt(k-2) ≈ 50 % — the hash gate pins exactness,
      // this pins that the ESTIMATOR is sane)
      if (bottom.length < K) assert(est == nExact.toDouble, s"$t exact branch")
      else assert(math.abs(est - nExact) / nExact < 4.0 / math.sqrt(K - 2.0),
        s"$t estimator error ${math.abs(est - nExact) / nExact}")
    }
  }

  test("mann-kendall equals a driver-side pair replay (r12)") {
    val rows = q("q_ts_mann_kendall").collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4)))).toMap
    assert(rows.nonEmpty)
    val grid = graft.ops.DiagOps.hourlyCentGrid(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    grid.groupBy(_._1).foreach { case (t, g) =>
      val ks = g.sortBy(_._2).map(_._3)
      var s = 0L
      for (i <- ks.indices; j <- (i + 1) until ks.length)
        s += java.lang.Long.signum(ks(j) - ks(i)).toLong
      val n = ks.length.toLong
      val tieAdj = ks.groupBy(identity).values
        .map(v => { val c = v.length.toLong; c * (c - 1) * (2 * c + 5) }).sum
      val vnum = n * (n - 1) * (2 * n + 5) - tieAdj
      val z =
        if (s > 0) (s.toDouble - 1) / math.sqrt(vnum.toDouble / 18.0)
        else if (s < 0) (s.toDouble + 1) / math.sqrt(vnum.toDouble / 18.0)
        else 0.0
      val (gs, gv, gz, tr) = {
        val r = rows(t); (r._1, r._2, r._3, r._4)
      }
      assert((gs, gv) == ((s, vnum)), s"$t S/variance")
      assert(gz == z, s"$t z replay")
      assert(tr == (if (z > 1.96) "increasing"
        else if (z < -1.96) "decreasing" else "none"), s"$t verdict")
    }
  }

  test("anova equals a driver-side fixed-order replay (r12)") {
    val rows = q("q_ts_anova").collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(rows.nonEmpty)
    val ev = ops.table(spark, sfDir, "events")
      .selectExpr("event_type", s"(unix_micros(ts) div 3600000000) % 24 AS hod",
        "CAST(round(value * 100) AS BIGINT) AS k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    ev.groupBy(_._1).foreach { case (t, es) =>
      val n = es.length.toLong
      val sk = es.map(_._3).sum
      val s2 = es.map(e => BigInt(e._3) * BigInt(e._3)).sum
      val s2hi = (s2 / 1073741824L).toLong
      val s2lo = (s2 % 1073741824L).toLong
      val cells = es.groupBy(_._2).view
        .mapValues(v => (v.length.toLong, v.map(_._3).sum)).toMap
      // the pivoted explicit chain: hods 0..23 left to right, +0.0 gaps
      var sumterm = 0.0
      for (h <- 0 until 24)
        sumterm += cells.get(h.toLong)
          .map { case (nh, sh) => sh.toDouble * sh.toDouble / nh }
          .getOrElse(0.0)
      val kg = cells.size.toLong
      val s2d = s2hi.toDouble * 1073741824.0 + s2lo.toDouble
      val sst = s2d - sk.toDouble * sk.toDouble / n
      val ssb = sumterm - sk.toDouble * sk.toDouble / n
      val ssw = sst - ssb
      val (gn, gsst, gssb, gssw, geta, gf) = {
        val r = rows(t); (r._1, r._2, r._3, r._4, r._5, r._6)
      }
      assert(gn == n, s"$t n")
      assert(gsst == sst && gssb == ssb && gssw == ssw, s"$t sums of squares")
      assert(geta == ssb / sst, s"$t eta_sq")
      assert(gf == (ssb / (kg - 1)) / (ssw / (n - kg)), s"$t f_stat")
      // decomposition sanity: 0 ≤ SSB ≤ SST (up to fp), F ≥ 0
      assert(gssb >= -1e-6 && gssb <= gsst + 1e-6 && gf >= 0.0, s"$t ranges")
    }
  }

  test("weighted median equals a driver-side cumulative-weight replay (r12)") {
    val rows = q("q_agg_weighted_median").collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(rows.keySet == Set("A", "N", "R"))
    val li = ops.table(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_extendedprice", "l_quantity").collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1) * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong,
        r.getDouble(2).toLong))
    li.groupBy(_._1).foreach { case (g, ls) =>
      val byCent = ls.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val tw = byCent.map(_._2).sum
      var cw = 0L
      val med = byCent.find { case (_, w) => cw += w; cw * 2 >= tw }.get._1
      val (gotW, gotM) = rows(g)
      assert(gotW == tw, s"$g total weight")
      assert(gotM == med.toDouble / 100, s"$g weighted median")
      // the defining property: strictly-below weight < half ≤ up-to weight
      val below = byCent.takeWhile(_._1 < med).map(_._2).sum
      assert(below * 2 < tw && (below + byCent.find(_._1 == med).get._2) * 2 >= tw)
    }
  }

  test("theil-sen equals a driver-side pairwise-slope replay (r12)") {
    val rows = q("q_ts_theil_sen").collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(rows.nonEmpty)
    val grid = graft.ops.DiagOps.hourlyCentGrid(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    grid.groupBy(_._1).foreach { case (t, g) =>
      val pts = g.sortBy(_._2).map(p => (p._2, p._3))
      val slopes = (for {
        i <- pts.indices; j <- (i + 1) until pts.length
      } yield (pts(j)._2 - pts(i)._2).toDouble /
          (pts(j)._1 - pts(i)._1).toDouble).sorted
      val np = slopes.length.toLong
      val med = slopes(((np + 1) / 2 - 1).toInt) / 100.0
      val (gn, gs) = rows(t)
      assert(gn == np, s"$t pair count")
      assert(gs == med, s"$t lower-median slope replay")
    }
  }

  test("kmv sketch is deterministic across partitionings (merge path)") {
    val base = q("q_agg_kmv_distinct").collect().toSeq
    // repartitioning forces different partial-buffer merge orders — the
    // sorted-array merge must be order-insensitive
    val re = {
      import graft.functions.ReplayableHash
      val P = ReplayableHash.P
      val (a, b) = ReplayableHash.KmvParams.head
      val kmv = udaf(graft.ops.DiagOps.KmvSketch)
      ops.table(spark, sfDir, "events")
        .repartition(17)
        .select(col("event_type"), col("user_id"),
          expr(s"($a * (user_id % $P) + $b) % $P").as("hv"))
        .groupBy("event_type")
        .agg(kmv(col("hv")).as("sk"),
          countDistinct(col("user_id")).as("nd"))
        .select(col("event_type"), col("nd").cast("long").as("n_exact"),
          col("sk._1").as("sketch_size"), col("sk._2").as("kth_hash"),
          col("sk._3").as("est_distinct"))
        .orderBy("event_type").collect().toSeq
    }
    assert(base == re)
  }

  test("runs test equals a driver-side replay (r12)") {
    val rows = q("q_ts_runs_test").collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getString(8)))).toMap
    assert(rows.nonEmpty)
    val grid = graft.ops.DiagOps.hourlyCentGrid(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    grid.groupBy(_._1).foreach { case (t, g) =>
      // median by rank (n+1) div 2 under the total order (k, h)
      val byVal = g.sortBy(x => (x._3, x._2))
      val med = byVal(((byVal.length + 1) / 2) - 1)._3
      val signs = g.sortBy(_._2).filter(_._3 != med)
        .map(x => if (x._3 > med) 1 else -1)
      val n = signs.length.toLong
      val n1 = signs.count(_ == 1).toLong
      val n2 = n - n1
      val runs =
        if (signs.isEmpty) 0L
        else 1L + signs.sliding(2).count(p => p.length == 2 && p(0) != p(1))
      val e = 1.0 + (2L * n1 * n2).toDouble / n.toDouble
      val v = (2L * n1 * n2).toDouble * (2L * n1 * n2 - n).toDouble /
        n.toDouble / n.toDouble / (n - 1).toDouble
      val z = if (v > 0) (runs.toDouble - e) / math.sqrt(v) else 0.0
      val (gn, gA, gB, gR, ge, gv, gz, verdict) = {
        val r = rows(t); (r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8)
      }
      assert((gn, gA, gB, gR) == ((n, n1, n2, runs)), s"$t counts")
      assert(ge == e && gv == v && gz == z, s"$t staged formulas")
      assert(verdict == (if (z < -1.96) "clustered"
        else if (z > 1.96) "oscillating" else "random"), s"$t verdict")
    }
    // NOTE: no "both sides occur" pin — at sf0.001 EVERY type's median
    // hourly total is 0 (most grid hours are empty), so n_below = 0
    // across the board and the var>0 guard reads z = 0; the exact replay
    // above is the whole contract (the q_text_hapax fixture-shape lesson).
    // sf0.01+ grids do produce two-sided dichotomies — the hash gate
    // covers those.
  }

  test("candlestick patterns equal a driver-side bar replay (r12)") {
    val rows = q("q_ts_candles").collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(rows.nonEmpty)
    val ev = ops.table(spark, sfDir, "events")
      .selectExpr("event_type", "unix_micros(ts) AS us", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS c").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    ev.groupBy(_._1).foreach { case (t, es) =>
      val bars = es.groupBy(e => e._2 / 3600000000L).toSeq.sortBy(_._1)
        .map { case (h, g) =>
          val sorted = g.sortBy(e => (e._2, e._3)) // the okey order
          (h, sorted.head._4, sorted.last._4)      // (hour, open_c, close_c)
        }
      var (nUp, nTws, nEng) = (0L, 0L, 0L)
      var (lastT, lastE) = (-1L, -1L)
      bars.zipWithIndex.foreach { case ((h, oc, cc), i) =>
        val up = cc > oc
        if (up) nUp += 1
        if (i >= 2) {
          val (_, o1, c1) = bars(i - 1); val (_, _, c2) = bars(i - 2)
          if (up && c1 > o1 && bars(i - 2)._3 > bars(i - 2)._2 &&
              cc > c1 && c1 > c2) { nTws += 1; lastT = h }
        }
        if (i >= 1) {
          val (_, o1, c1) = bars(i - 1)
          if (up && !(c1 > o1) && oc <= c1 && cc >= o1) { nEng += 1; lastE = h }
        }
      }
      val (nb, gu, gt, ge, lt, le) = {
        val r = rows(t); (r._1, r._2, r._3, r._4, r._5, r._6)
      }
      assert(nb == bars.length.toLong && gu == nUp, s"$t bar/up counts")
      assert(gt == nTws && ge == nEng, s"$t pattern counts")
      assert(lt == lastT && le == lastE, s"$t last-occurrence hours")
    }
  }

  test("periodogram equals a driver-side quantized-DFT replay (r12c3)") {
    val out = q("q_ts_periodogram").collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(out.nonEmpty)
    val grid = ops.DiagOps.hourlyCentGrid(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(grid.nonEmpty)
    grid.groupBy(_._1).foreach { case (t, rows) =>
      val n = rows.length.toLong
      val tot = rows.map(_._3).sum
      Seq(24, 168).foreach { p =>
        var asum = 0L
        var bsum = 0L
        rows.groupBy(_._2 % p).foreach { case (r, grp) =>
          val sk = grp.map(_._3).sum
          val cnt = grp.length.toLong
          val d = n * sk - cnt * tot
          val th = 2.0 * math.Pi * r / p
          asum += math.round(math.cos(th) * 65536) * d
          bsum += math.round(math.sin(th) * 65536) * d
        }
        val a = asum.toDouble / 65536.0d / n.toDouble
        val b = bsum.toDouble / 65536.0d / n.toDouble
        val (gn, ga, gb, gp) = out((t, p.toLong))
        assert(gn == n, s"$t p=$p n_hours")
        assert(ga == a && gb == b, s"$t p=$p DFT coefficients")
        assert(gp == a * a + b * b, s"$t p=$p power")
      }
    }
    // the quantized tables themselves: first residue of every period is
    // the exact (cos 0, sin 0) = (2^16, 0) lattice point
    assert(ops.DiagOps.dftTable.filter(_._2 == 0)
      .forall(t => t._3 == 65536L && t._4 == 0L))
  }

  test("cross-spectrum equals the paired periodogram components (r15)") {
    val comp = q("q_ts_periodogram").collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val out = q("q_ts_cross_spectrum").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7))).toSeq
    assert(out.nonEmpty)
    val types = comp.keys.map(_._1).toSeq.distinct.sorted
    val expected = for {
      a <- types; b <- types if a < b; p <- Seq(24L, 168L)
    } yield {
      val (n, aa, ba) = comp((a, p))
      val (_, ab, bb) = comp((b, p))
      val re = aa * ab + ba * bb
      val im = ba * ab - aa * bb
      val pa = aa * aa + ba * ba
      val pb = ab * ab + bb * bb
      val pc = if (pa * pb > 0) re / math.sqrt(pa * pb) else 0.0
      val ps = if (pa * pb > 0) im / math.sqrt(pa * pb) else 0.0
      (a, b, p, n, re, im, pc, ps)
    }
    assert(out == expected, "cross-spectrum drifted from the paired replay")
    // the phase vector lies ON the unit circle wherever power is positive
    out.foreach { r =>
      assert(r._7 == 0.0 && r._8 == 0.0 ||
        math.abs(r._7 * r._7 + r._8 * r._8 - 1.0) < 1e-9,
        s"${r._1}/${r._2} phase vector off the unit circle")
    }
  }

  test("k-anonymity audit equals a driver-side class recount (r15)") {
    val rows = q("q_profile_k_anon").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(rows.nonEmpty)
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_nationkey", "c_acctbal", "c_mktsegment").collect()
      .map { r =>
        val cents = BigDecimal(r.getDouble(1) * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        (r.getInt(0).toLong, (cents + 100000L) / 10000L, r.getString(2))
      }
    val classes = cust.groupBy(c => (c._1, c._2))
    assert(rows.keySet == classes.keySet, "class set differs")
    classes.foreach { case (key, ms) =>
      val (ks, ld, risk) = rows(key)
      assert(ks == ms.length.toLong, s"$key: k differs")
      assert(ld == ms.map(_._3).distinct.length.toLong, s"$key: l differs")
      assert(risk == (ks < 5) && ld <= math.min(ks, 5L), s"$key: flags")
    }
    assert(rows.values.map(_._1).sum == cust.length.toLong,
      "classes do not partition the table")
    // the audit must be able to FIND risk: $100 bands leave singleton
    // classes on every fixture scale
    assert(rows.values.exists(_._3), "no at-risk class found")
  }

  test("Welch coherence equals a driver-side segment-DFT replay (r15)") {
    val out = q("q_ts_coherence").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7))).toSeq
    assert(out.nonEmpty)
    val grid = ops.DiagOps.hourlyCentGrid(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val W = ops.DiagOps.CohSegHours.toLong
    val cos = ops.DiagOps.dftTable.filter(_._1 == 24)
      .map(t => t._2.toLong -> t._3).toMap
    val sin = ops.DiagOps.dftTable.filter(_._1 == 24)
      .map(t => t._2.toLong -> t._4).toMap
    // per (type, seg): exact BIGINT component sums, complete segs only
    val comp = grid.groupBy(r => (r._1, Math.floorDiv(r._2, W)))
      .filter(_._2.length == W.toInt)
      .map { case ((t, seg), rows) =>
        val tot = rows.map(_._3).sum
        var asum = 0L; var bsum = 0L
        rows.foreach { case (_, h, k) =>
          val d = W * k - tot
          asum += cos(h % 24) * d; bsum += sin(h % 24) * d
        }
        ((t, seg), (asum.toDouble / 65536.0d / W.toDouble,
          bsum.toDouble / 65536.0d / W.toDouble))
      }
    val types = grid.map(_._1).distinct.sorted
    val expected = for {
      a <- types; b <- types if a < b
    } yield {
      val segs = comp.keys.filter(_._1 == a).map(_._2).toSeq
        .filter(sg => comp.contains((b, sg))).sorted
      var sr = 0.0; var si = 0.0; var spx = 0.0; var spy = 0.0
      segs.foreach { sg =>
        val (aa, ba) = comp((a, sg)); val (ab, bb) = comp((b, sg))
        sr += aa * ab + ba * bb
        si += ba * ab - aa * bb
        spx += aa * aa + ba * ba
        spy += ab * ab + bb * bb
      }
      val coh = if (spx * spy > 0)
        (sr * sr + si * si) / (spx * spy) else 0.0
      (a, b, segs.length.toLong, sr, si, spx, spy, coh)
    }
    assert(out == expected.toSeq,
      "coherence drifted from the segment replay")
    // the Welch stationarity readout rides the SAME components: replay
    // its per-type power drift off the comp map built above
    val welch = q("q_ts_welch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    val welchExpected = types.map { t =>
      val segs = comp.keys.filter(_._1 == t).map(_._2).toSeq.sorted
      val n = segs.length.toLong
      val sxl = segs.sum
      val sxxl = segs.map(sg => sg * sg).sum
      var sy = 0.0; var sxy = 0.0
      segs.foreach { sg =>
        val (a, b) = comp((t, sg))
        val p = a * a + b * b
        sy += p; sxy += sg.toDouble * p
      }
      val nd = n.toDouble
      val den = nd * sxxl.toDouble - sxl.toDouble * sxl.toDouble
      val slope =
        if (den > 0) (nd * sxy - sxl.toDouble * sy) / den else 0.0
      (t, n, sy, sxy, sy / nd, slope)
    }
    assert(welch == welchExpected.toSeq,
      "Welch stationarity drifted from the segment replay")
    // magnitude-bearing by construction: in [0,1] (Cauchy-Schwarz), and
    // the averaging makes <1 possible (unlike the single-bin unit phase
    // vector); at least two complete segments on every fixture span
    out.foreach { r =>
      assert(r._3 >= 2, s"${r._1}/${r._2} fewer than 2 complete segments")
      assert(r._8 >= 0.0 && r._8 <= 1.0 + 1e-9,
        s"${r._1}/${r._2} coherence outside [0,1]")
    }
  }

  test("permutation entropy equals a driver-side ordinal replay (r12c3)") {
    def ilog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val out = q("q_ts_perm_entropy").collect()
      .map(r => (r.getString(0),
        ((1 to 8).map(r.getLong).toSeq, r.getDouble(9)))).toMap
    assert(out.nonEmpty)
    val grid = ops.DiagOps.hourlyCentGrid(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    grid.groupBy(_._1).foreach { case (t, rows) =>
      val ks = rows.sortBy(_._2).map(_._3)
      val pats = ks.sliding(3).filter(_.length == 3).map { tr =>
        val Seq(a, b, c) = tr.toSeq
        val ra = (if (b < a) 1 else 0) + (if (c < a) 1 else 0)
        val rb = (if (a <= b) 1 else 0) + (if (c < b) 1 else 0)
        val rc = (if (a <= c) 1 else 0) + (if (b <= c) 1 else 0)
        ra * 9 + rb * 3 + rc
      }.toSeq
      val cnt = pats.groupBy(identity).view.mapValues(_.size.toLong).toMap
      // every emitted id is one of the six valid permutations
      assert(cnt.keySet.subsetOf(ops.DiagOps.permPatterns.map(_._2).toSet))
      val n = pats.size.toLong
      val spart = cnt.values.map(c => c * ilog2(c)).sum
      val hq = n * ilog2(n) - spart
      val expect: Seq[Long] = Seq(n) ++
        ops.DiagOps.permPatterns.map { case (_, id) => cnt.getOrElse(id, 0L) } ++
        Seq(hq)
      val (gotLongs, gotShare) = out(t)
      assert(gotLongs == expect, s"$t counts/entropy")
      assert(gotShare == cnt.values.max.toDouble / n.toDouble, s"$t max share")
      assert(hq >= 0L, s"$t H_q nonnegative")
    }
  }

  test("ljung-box equals a driver-side Q replay off the acf rows (r12c3)") {
    val acf = q("q_ts_acf").collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val got = q("q_ts_ljung_box").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(got.nonEmpty)
    got.foreach { case (t, (nObs, qStat, rej)) =>
      val (n1, _) = acf((t, 1L))
      assert(nObs == n1 + 1, s"$t n_obs from the lag-1 pair count")
      // same left-associated 5-term chain as lbQFormula
      val terms = (1 to 5).map { k =>
        val (nk, rk) = acf((t, k.toLong)); rk * rk / nk.toDouble
      }
      val expect = nObs.toDouble * (nObs + 2).toDouble *
        (((terms(0) + terms(1)) + terms(2) + terms(3)) + terms(4))
      assert(qStat == expect, s"$t Q statistic replay")
      assert(qStat >= 0.0, s"$t Q nonnegative")
      assert(rej == (qStat > 11.0705), s"$t verdict")
    }
  }

  test("pacf equals a driver-side Durbin-Levinson replay off the acf rows (r12)") {
    val acf = q("q_ts_acf").collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getDouble(3))).toMap
    val rows = q("q_ts_pacf").collect().map(r =>
      (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (t, (r1, r2, r3, p1, p2, p3)) =>
      assert(r1 == acf((t, 1L)) && r2 == acf((t, 2L)) && r3 == acf((t, 3L)),
        s"$t: pacf must read the SAME correlogram as q_ts_acf")
      // the staged recursion, replicated op-for-op
      val phi11 = r1
      val den2 = 1.0 - r1 * phi11
      val num2 = r2 - r1 * phi11
      val phi22 = if (den2 != 0.0) num2 / den2 else 0.0
      val phi21 = phi11 - phi22 * phi11
      val num3 = (r3 - phi21 * r2) - phi22 * r1
      val den3 = (1.0 - phi21 * r1) - phi22 * r2
      val phi33 = if (den3 != 0.0) num3 / den3 else 0.0
      assert(p1 == phi11 && p2 == phi22 && p3 == phi33, s"$t staged replay")
      // AR-identity sanity: |pacf| ≤ ~1 on a real correlogram
      assert(math.abs(p2) <= 1.0 && math.abs(p3) <= 1.5, s"$t magnitude")
    }
  }

  test("frequent-values profile equals a driver-side recount (r12)") {
    val rows = q("q_profile_freq").collect().map(r =>
      ((r.getString(0), r.getLong(1)), (r.getString(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(rows.nonEmpty)
    val os = ops.table(spark, sfDir, "orders")
      .select("o_orderstatus", "o_orderpriority").collect()
    val cols = Map(
      "o_orderstatus" -> os.map(_.getString(0)),
      "o_orderpriority" -> os.map(_.getString(1)))
    cols.foreach { case (cn, vals) =>
      val counts = vals.groupBy(identity).map { case (v, xs) => (v, xs.length.toLong) }
      val top = counts.toSeq.sortBy { case (v, n) => (-n, v) }.take(3)
      top.zipWithIndex.foreach { case ((v, n), i) =>
        val (gv, gn, gs) = rows((cn, (i + 1).toLong))
        assert((gv, gn) == ((v, n)), s"$cn rank ${i + 1}")
        assert(gs == n.toDouble / vals.length, s"$cn rank ${i + 1} share")
      }
    }
  }

  test("cusum equals a driver-side clamped-recursion replay (r12)") {
    val rows = q("q_ts_cusum").collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(rows.nonEmpty)
    val grid = graft.ops.DiagOps.hourlyCentGrid(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    grid.groupBy(_._1).foreach { case (t, g) =>
      val byVal = g.sortBy(x => (x._3, x._2))
      val med = byVal(((byVal.length + 1) / 2) - 1)._3
      val devs = g.sortBy(_._2).map(x => (x._2, x._3 - med))
      val byAbs = devs.sortBy(x => (math.abs(x._2), x._1))
      val mad = math.abs(byAbs(((byAbs.length + 1) / 2) - 1)._2)
      // the literal clamped recursion — the engine computes it as
      // prefix-sum minus running-min; this pins the identity
      var s = 0L; var mx = Long.MinValue; var mxH = 0L; var alarms = 0L
      devs.foreach { case (h, d) =>
        s = math.max(0L, s + d - mad)
        if (s > mx) { mx = s; mxH = h }
        if (s > 3L * mad) alarms += 1
      }
      val (n, maxC, pkH, nAl, target, thr) = {
        val r = rows(t); (r._1, r._2, r._3, r._4, r._5, r._6)
      }
      assert(n == g.length.toLong, s"$t grid size")
      assert(maxC == mx.toDouble / 100 && pkH == mxH, s"$t peak replay")
      assert(nAl == alarms, s"$t alarm count")
      assert(target == med.toDouble / 100 && thr == 3.0 * mad / 100, s"$t params")
      // alarm-rate sanity only where the detector has a real scale: at
      // sf0.001 sparse types read med = mad = 0 (threshold 0 ⇒ every
      // positive-excursion hour alarms, legally) — the hapax
      // fixture-shape lesson again
      if (mad > 0)
        assert(nAl <= n / 4, s"$t: alarm rate implausibly high (no-slack bug?)")
    }
  }
}
