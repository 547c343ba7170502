package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingKmv

/** The streaming KMV sketch must equal the batch q_agg_kmv_distinct triple
  * EXACTLY on the same rows and stay idempotent under redelivery (min-fold).
  */
class StreamingKmvSpec extends SparkTestBase {

  private def checkpoint(): String =
    Files.createTempDirectory("graft-kmv-ckpt").toString

  test("streamed sketch equals the batch q_agg_kmv_distinct triple") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = ops.table(spark, sfDir, "events")
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)].collect().toSeq

    val input = MemoryStream[(String, Long)]
    val query = StreamingKmv.sketches(input.toDF().toDF("event_type", "user_id"))
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      // three arrival waves, then a full REDELIVERY wave (idempotence)
      rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
        input.addData(c); query.processAllAvailable()
      }
      def latest() = StreamingKmv.latestSketch(spark.table("kmv_out"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      val afterFirst = latest()
      input.addData(rows); query.processAllAvailable()
      val got = latest()
      assert(got == afterFirst, "full redelivery must leave every sketch unchanged")
      val batch = SparkEntry.queries("q_agg_kmv_distinct")(spark, sfDir)
        .select("event_type", "sketch_size", "kth_hash", "est_distinct")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(got == batch,
        "streaming KMV must equal the batch sketch triple exactly")
    } finally query.stop()
  }
}
