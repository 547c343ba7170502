package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingBenford

/** The streaming Benford twin must equal batch q_profile_benford
  * bit-for-bit after any full replay (shared digit projection + shared
  * report body) and keep ≤9 state groups forever. */
class StreamingBenfordSpec extends SparkTestBase {

  private def checkpoint(): String =
    Files.createTempDirectory("graft-sbf-ckpt").toString

  test("chunked replay reproduces batch q_profile_benford bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = ops.table(spark, sfDir, "orders")
      .select("o_totalprice").collect().map(_.getDouble(0)).toSeq

    val input = MemoryStream[Double]
    val query = StreamingBenford.counts(input.toDF().toDF("o_totalprice"))
      .writeStream.format("memory").queryName("sbf_out")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
        input.addData(c); query.processAllAvailable()
      }
      val latest = StreamingBenford.latestCounts(spark.table("sbf_out"))
      assert(latest.count() <= 9, "state/domain bound")
      val got = StreamingBenford.report(latest).collect().map(_.toSeq).toSeq
      val expect = SparkEntry.queries("q_profile_benford")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(got == expect, "streaming replay drift vs batch")
    } finally query.stop()
  }
}
