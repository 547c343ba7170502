package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.ops.LlmOps
import graft.streaming.StreamingSpanDedup
import graft.streaming.StreamingSpanDedup.{DupPos, WinState}

/** The streaming span-dedup twin must digest windows bit-identically to
  * the batch SlidingHashGenerator, surface every dup window position
  * exactly once (including the retro-emitted first occurrence), and
  * reproduce batch `q_llm_span_dedup` bit-for-bit through the factored
  * report tail after a chunked replay. */
class StreamingSpanDedupSpec extends SparkTestBase {

  private def checkpoint(): String =
    Files.createTempDirectory("graft-sp-ckpt").toString

  test("window kernel equals the batch sliding_hashes generator (all docs)") {
    graft.functions.GraftFunctions.register(spark)
    val docs = ops.table(spark, sfDir, "documents")
    val batch = docs
      .select(col("doc_id"),
        call_function("sliding_hashes", col("text"), lit(LlmOps.SpanW)))
      .select("doc_id", "pos", "wh")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val texts = docs.select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val mine = texts.flatMap { case (id, t) =>
      StreamingSpanDedup.windows(t, LlmOps.SpanW)
        .map { case (pos, wh) => (id, pos) -> wh }
    }.toMap
    assert(mine == batch, "window digests must equal the batch generator")
    assert(batch.nonEmpty)
  }

  test("digestUpdate: retro-emission on 1→2, exactly-once per position (unit)") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def st() = TestGroupState.create[WinState](
      Optional.empty(), GroupStateTimeout.NoTimeout, 0L, Optional.empty(), false)
    val s = st()
    // first occurrence: remembered, nothing emitted
    assert(StreamingSpanDedup.digestUpdate(7L, Iterator((1L, 3L)), s).toSeq
      .isEmpty)
    assert(s.get == WinState(1L, 3L, 1L))
    // second occurrence (other doc): BOTH surface, first retroactively
    val out2 = StreamingSpanDedup.digestUpdate(7L, Iterator((5L, 0L)), s).toSeq
    assert(out2 == Seq(DupPos(1L, 3L), DupPos(5L, 0L)))
    // third: only itself
    val out3 = StreamingSpanDedup.digestUpdate(7L, Iterator((6L, 9L)), s).toSeq
    assert(out3 == Seq(DupPos(6L, 9L)))
    assert(s.get.n == 3L)
    // both occurrences in ONE batch (same-doc repeat): same fold
    val s2 = st()
    val out = StreamingSpanDedup.digestUpdate(9L,
      Iterator((2L, 8L), (2L, 0L)), s2).toSeq
    assert(out == Seq(DupPos(2L, 0L), DupPos(2L, 8L)))
  }

  test("chunked replay: report equals batch q_llm_span_dedup bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = ops.table(spark, sfDir, "documents")
    val rows = docs.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

    val input = MemoryStream[(Long, String)]
    val query = StreamingSpanDedup.dupPositions(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sp_out")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
        input.addData(c); query.processAllAvailable()
      }
      val emitted = spark.table("sp_out")
      // the emitted set IS the batch dup relation: exactly-once per position
      assert(emitted.count() == emitted.distinct().count(),
        "a dup position was emitted more than once")
      val got = StreamingSpanDedup.report(emitted, docs)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batch = SparkEntry.queries("q_llm_span_dedup")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(got == batch,
        "streaming report must equal batch q_llm_span_dedup bit-for-bit")
      assert(batch.exists(r => r(2).asInstanceOf[Long] > 0),
        "fixture has no dup spans — weak test")
    } finally query.stop()
  }
}
