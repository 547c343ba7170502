package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingScd2

/** The streaming SCD2 twin must equal batch q_sink_scd2 bit-for-bit after
  * any full replay (shared change projection + shared assembly body),
  * hold O(1) state per changed customer, and be idempotent under a full
  * redelivery wave (min-fold state). */
class StreamingScd2Spec extends SparkTestBase {

  private def checkpoint(): String =
    Files.createTempDirectory("graft-scd2-ckpt").toString

  test("chunked replay + full redelivery reproduce batch q_sink_scd2") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val events = graft.ops.SourceSinkOps
      .scd2ChangeEvents(ops.table(spark, sfDir, "orders"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(events.nonEmpty, "fixture yields no change events — weak test")

    val input = MemoryStream[(Long, Long)]
    val query = StreamingScd2.changes(
        input.toDF().toDF("c_custkey", "chg_ms"))
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      events.grouped(math.max(1, events.length / 3)).foreach { c =>
        input.addData(c); query.processAllAvailable()
      }
      // full redelivery wave: every event again, state must not move
      input.addData(events); query.processAllAvailable()

      val emitted = spark.table("scd2_out")
      val latest = StreamingScd2.latestChanges(emitted)
      assert(latest.count() == events.map(_._1).distinct.length.toLong,
        "one live state row per changed customer")
      val dim = ops.table(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val got = StreamingScd2.scd2(dim, latest).collect().map(_.toSeq).toSeq
      val expect = SparkEntry.queries("q_sink_scd2")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(got == expect, "streaming replay drift vs batch scd2")
    } finally query.stop()
  }
}
