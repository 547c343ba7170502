package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingKsDrift

/** The streaming KS-drift twin must reproduce the batch two-sample
  * statistic BIT-equal after any chunked replay (the cell histogram is
  * lossless on the span×domain-bounded (type, hour, cent) grid), and
  * keep state keyed by cells, not rows. */
class StreamingKsDriftSpec extends SparkTestBase {

  private def checkpoint(): String =
    Files.createTempDirectory("graft-ks-ckpt").toString

  test("after a chunked replay the report equals batch q_profile_ks_drift bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = ops.table(spark, sfDir, "events")
      .select(col("event_type"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq

    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val query = StreamingKsDrift.cells(
        input.toDF().toDF("event_type", "ts", "value"))
      .writeStream.format("memory").queryName("ks_out")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 4)).foreach { c =>
        input.addData(c); query.processAllAvailable()
      }
      val cells = StreamingKsDrift.latestCells(spark.table("ks_out"))
      // state is keyed by live CELLS: one row per observed (type, h, cent)
      val domain = ops.table(spark, sfDir, "events")
        .selectExpr("event_type", "unix_micros(ts) div 3600000000 AS h",
          "CAST(round(value * 100) AS BIGINT) AS cent")
        .distinct().count()
      assert(cells.count() == domain)
      val got = StreamingKsDrift.report(cells).collect().map(_.toSeq)
      val want = SparkEntry.queries("q_profile_ks_drift")(spark, sfDir)
        .collect().map(_.toSeq)
      assert(got.toSeq == want.toSeq,
        "streaming KS report diverges from the batch statistic")
    } finally query.stop()
  }

  test("report: hand-computed D on a tiny two-half histogram") {
    import spark.implicits._
    // hours 0..3 → hmid = 1; first half = h ∈ {0, 1}
    // type t: first half cents [100×2, 200×1]; second [100×1, 300×2]
    val cells = Seq(
      ("t", 0L, 100L, 2L), ("t", 1L, 200L, 1L),
      ("t", 2L, 100L, 1L), ("t", 3L, 300L, 2L))
      .toDF("event_type", "h", "cent", "cnt")
    val r = StreamingKsDrift.report(cells).collect().head
    // CDF steps: cent 100: |2·3 − 1·3| = 3; cent 200: |3·3 − 1·3| = 6;
    // cent 300: |3·3 − 3·3| = 0 → D·n1·n2 = 6, D = 6/9
    assert(r.getAs[Long]("n_first") == 3L)
    assert(r.getAs[Long]("n_second") == 3L)
    assert(r.getAs[Long]("d_num") == 6L)
    assert(r.getAs[Double]("ks_d") == 6.0 / 3 / 3)
  }
}
