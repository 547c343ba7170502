package graft

import org.apache.spark.sql.functions._

import graft.ops.LlmOps

/** q_llm_span_dedup (r12): span-granular exact-substring dedup — the
  * sliding-window digest + gaps-and-islands merge must reconstruct the
  * exact maximal repeated spans a brute-force string reimplementation
  * finds, at any alignment. */
class SpanDedupSpec extends SparkTestBase {

  private val W = LlmOps.SpanW // 8

  /** Brute-force ground truth over w-gram STRINGS (no hashing): dup window
    * = w-gram occurring ≥2× in the corpus (multiplicity, incl. within one
    * doc); islands merged while pos ≤ prev + w. Returns per-doc merged
    * [s, e) spans. */
  private def bruteSpans(docs: Seq[(Long, String)],
      w: Int): Map[Long, Seq[(Int, Int)]] = {
    val toks = docs.map { case (id, t) =>
      id -> t.split(' ').filter(_.nonEmpty).toSeq }.toMap
    val grams = toks.toSeq.flatMap { case (id, ts) =>
      (0 to ts.length - w).map(p => (id, p, ts.slice(p, p + w).mkString(" ")))
    }
    val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val dupPos = grams.filter(g => counts(g._3) > 1)
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    dupPos.map { case (id, ps) =>
      val spans = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      ps.foreach { p =>
        if (spans.nonEmpty && p <= spans.last._2) {
          val (s0, _) = spans.last
          spans(spans.length - 1) = (s0, p + w)
        } else spans += ((p, p + w))
      }
      id -> spans.toSeq
    }
  }

  /** (doc_id, w) -> (n_tokens, n_spans, removed, kept, span_fp). */
  private def rowsByDocW(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap

  /** The report at every width in `widths`, planned as one sweep. */
  private def runReport(docs: Seq[(Long, String)],
      widths: Seq[Int] = LlmOps.SpanWidths) = {
    import spark.implicits._
    rowsByDocW(LlmOps.spanDedupReport(spark, docs.toDF("doc_id", "text"), widths))
  }

  /** Every report row equals the brute-force spans at its own width. */
  private def assertBrute(docs: Seq[(Long, String)],
      got: Map[(Long, Long), (Long, Long, Long, Long, Long)],
      widths: Seq[Int]): Unit = {
    val P = graft.functions.ReplayableHash.P
    val B = graft.functions.ReplayableHash.BlockBase
    assert(got.size == docs.size * widths.size, "one row per (doc, width)")
    widths.foreach { w =>
      val expect = bruteSpans(docs, w)
      docs.foreach { case (id, text) =>
        val n = text.split(' ').count(_.nonEmpty)
        val spans = expect.getOrElse(id, Seq.empty)
        val (nTok, nSpans, removed, kept, fp) = got((id, w.toLong))
        assert(nTok == n, s"n_tokens of $id at w=$w")
        assert(nSpans == spans.length, s"n_spans of $id at w=$w")
        assert(removed == spans.map { case (s, e) => e - s }.sum,
          s"removed of $id at w=$w")
        assert(kept == n - removed, s"kept of $id at w=$w")
        val expFp = spans.map { case (s, e) => ((s + 1).toLong * B + e) % P }
          .sum % P
        assert(fp == expFp, s"span_fp of $id at w=$w")
      }
    }
  }

  test("maximal repeated spans reconstruct exactly, at unaligned offsets") {
    val core = (1 to 12).map(i => s"dup$i").mkString(" ") // 12-token repeated span
    val long = (1 to 40).map(i => s"big$i").mkString(" ")
    def run(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val (runX, runY, runZ) = (run("x", 20), run("y", 10), run("zz", 20))
    val docs = Seq(
      // span embedded at offset 3 in doc 1, offset 7 in doc 2 (unaligned)
      1L -> s"a1 a2 a3 $core t1 t2 t3 t4 t5",
      2L -> s"b1 b2 b3 b4 b5 b6 b7 $core c1 c2",
      // clean doc: nothing repeated
      3L -> (1 to 30).map(i => s"u$i").mkString(" "),
      // shorter than W: emits no windows at all
      4L -> "x1 x2 x3",
      // within-doc repeat: same 9-token run twice inside one doc
      5L -> ((1 to 9).map(i => s"r$i") ++ Seq("mid1", "mid2", "mid3") ++
        (1 to 9).map(i => s"r$i")).mkString(" "),
      // a 40-token repeated span at offsets 2 and 5: dup windows at every
      // sweep width, so the widths' islands share these two docs
      6L -> s"p1 p2 $long q1",
      7L -> s"s1 s2 s3 s4 s5 $long",
      // 20-, 10- and 20-token runs, each repeated apart in doc 9: at w = 8
      // doc 8 is one span, at w = 16 two spans, which only a per-width
      // islands merge keeps apart
      8L -> Seq(runX, runY, runZ).mkString(" "),
      9L -> Seq(runZ, "v1 v2", runY, "v3 v4", runX).mkString(" "))
    val expect = bruteSpans(docs, W)

    // doc 1: exactly the 12-token span, at token offset 3
    assert(expect(1L) == Seq((3, 15)))
    // doc 5: two islands (offsets 0 and 12), each 9 tokens
    assert(expect(5L) == Seq((0, 9), (12, 21)))
    // docs 6 and 7: the 40-token span at every width
    LlmOps.SpanWidths.foreach { w =>
      assert(bruteSpans(docs, w)(6L) == Seq((2, 42)), s"doc 6 at w=$w")
    }
    assert(bruteSpans(docs, 8)(8L) == Seq((0, 50)))
    assert(bruteSpans(docs, 16)(8L) == Seq((0, 20), (30, 50)))
    assertBrute(docs, runReport(docs), LlmOps.SpanWidths)
  }

  test("adjacent islands merge; a full-doc duplicate removes everything") {
    // two copies of the same 20-token doc: every window dup, one span [0,20)
    val body = (1 to 20).map(i => s"w$i").mkString(" ")
    val got = runReport(Seq(10L -> body, 11L -> body), Seq(W))
    Seq(10L, 11L).foreach { id =>
      val (nTok, nSpans, removed, kept, _) = got((id, W.toLong))
      assert(nTok == 20 && nSpans == 1 && removed == 20 && kept == 0,
        s"full-doc dup of $id")
    }
  }

  test("per-source rollup equals a driver-side fold of the per-doc report (r12)") {
    val perDoc = SparkEntry.queries("q_llm_span_dedup")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val src = ops.table(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = src.groupBy(_._2).view.mapValues { ds =>
      val reps = ds.map(d => perDoc(d._1))
      (ds.length.toLong, reps.count(_._2 > 0).toLong,
        reps.map(_._1).sum, reps.map(_._3).sum)
    }.toMap
    val got = SparkEntry.queries("q_llm_span_dedup_by_source")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) -1.0 else r.getDouble(5)))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (s0, (nd, dws, tt, rt, rate)) =>
      val (en, edws, ett, ert) = expect(s0)
      assert((nd, dws, tt, rt) == ((en, edws, ett, ert)), s"rollup of $s0")
      if (ett > 0) assert(rate == ert.toDouble / ett.toDouble)
    }
  }

  test("randomized: report matches brute force on a template-heavy corpus") {
    val rnd = new scala.util.Random(42)
    val template = (1 to 15).map(i => s"tpl$i")
    // a second, 36-token template gives dup spans at every sweep width
    val longTpl = (1 to 36).map(i => s"ltp$i")
    val rndLong = new scala.util.Random(7)
    val docs = (0L until 40L).map { id =>
      val n = 10 + rnd.nextInt(30)
      val base = (0 until n).map(_ => s"z${rnd.nextInt(50)}")
      val withTpl =
        if (id % 3 == 0) {
          val at = rnd.nextInt(base.length)
          (base.take(at) ++ template ++ base.drop(at))
        } else base
      val withLong =
        if (id % 4 == 1) {
          val at = rndLong.nextInt(withTpl.length)
          withTpl.take(at) ++ longTpl ++ withTpl.drop(at)
        } else withTpl
      id -> withLong.mkString(" ")
    }
    val got = runReport(docs)
    assertBrute(docs, got, LlmOps.SpanWidths)
    // non-vacuous at every width
    LlmOps.SpanWidths.foreach { w =>
      assert(got.exists { case ((_, w0), (_, ns, _, _, _)) => w0 == w && ns > 0 },
        s"no spans at w=$w")
    }
  }

  test("multi-width sweep: per-width rows equal the single-width reports; " +
      "removed_tokens non-increasing in w (r15)") {
    val docs = ops.table(spark, sfDir, "documents")
    val multi = rowsByDocW(
      SparkEntry.queries("q_llm_span_dedup_multi")(spark, sfDir))
    // each width slice is the brute-force single-width report at that width
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assertBrute(texts, multi, LlmOps.SpanWidths)
    // ...and the single-width query's rows are the sweep's w = 8 slice
    val single = SparkEntry.queries("q_llm_span_dedup")(spark, sfDir).collect()
    assert(single.length == texts.size)
    single.foreach { r =>
      assert(multi((r.getLong(0), W.toLong)) == ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))), s"w = 8 row of ${r.getLong(0)}")
    }
    // containment: a width-2w dup window implies dup windows at every
    // contained width-w offset, so removal coverage shrinks as w grows
    val byDoc = multi.groupBy(_._1._1)
    byDoc.foreach { case (id, rows) =>
      val removedByW = rows.map { case ((_, w), (_, _, rm, _, _)) => w -> rm }
        .toSeq.sortBy(_._1).map(_._2)
      assert(removedByW == removedByW.sorted.reverse,
        s"removed_tokens not non-increasing in w for doc $id")
    }
    // non-vacuous: the fixture's template corpus has spans at w = 8
    assert(byDoc.exists { case (_, rows) =>
      rows.exists { case ((_, w), (_, ns, _, _, _)) => w == 8L && ns > 0 } })
  }

  test("multi-width sweep plans one pass: 2 generator passes, no Union") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try SparkEntry.queries("q_llm_span_dedup_multi")(spark, sfDir)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, UnionExec}
    val scans = plan.collect { case f: FileSourceScanExec
      if f.relation.location.rootPaths.exists(_.toString.contains("documents")) => f }
    val gens = plan.collect { case g: GenerateExec
      if g.generator.prettyName == "sliding_hashes" => g }
    assert(scans.size <= 3, s"documents scans:\n$plan")
    assert(gens.size == 2, s"sliding_hashes passes:\n$plan")
    assert(plan.collect { case u: UnionExec => u }.isEmpty, s"union:\n$plan")
    assert(PlanAudit.auditPlan("q_llm_span_dedup_multi", plan).isEmpty,
      "plan audit (no raw text on an exchange)")
  }

  test("sliding_hashes rejects a missing, non-literal, out-of-range or repeated width") {
    graft.functions.GraftFunctions.register(spark)
    val docs = ops.table(spark, sfDir, "documents")
    def err(ws: org.apache.spark.sql.Column*): String = {
      val e = intercept[Exception](
        docs.select(call_function("sliding_hashes", col("text") +: ws: _*)))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    assert(err().contains("at least 2 arguments"))
    assert(err(col("doc_id")).contains("w must be an integer literal"))
    assert(err(lit(0)).contains("out of range [1, 64]: 0"))
    assert(err(lit(8), lit(65)).contains("out of range [1, 64]: 65"))
    assert(err(lit(8), lit(16), lit(8)).contains("repeated window width"))
    // the accepted forms still plan
    docs.select(call_function("sliding_hashes", col("text"), lit(1), lit(64)))
  }
}
