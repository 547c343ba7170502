package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingContingency

/** The streaming contingency twin must reproduce BOTH batch categorical
  * reads (Cramér's V and quanta-MI) bit-for-bit after any chunked
  * replay, with state keyed by contingency cells (category-domain
  * bounded), not rows. */
class StreamingContingencySpec extends SparkTestBase {

  private def checkpoint(): String =
    Files.createTempDirectory("graft-ct-ckpt").toString

  test("after a chunked replay both reads equal their batch queries bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = graft.ops.ProfileOps.catCells(spark, sfDir)
      .collect().flatMap { r =>
        Seq.fill(r.getLong(3).toInt)((r.getString(0), r.getString(1), r.getString(2)))
      }.toSeq

    val input = MemoryStream[(String, String, String)]
    val query = StreamingContingency.cells(
        input.toDF().toDF("pair", "a", "b"))
      .writeStream.format("memory").queryName("ct_out")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
        input.addData(c); query.processAllAvailable()
      }
      val cells = StreamingContingency.latestCells(spark.table("ct_out"))
      // bounded state: one live cell per observed (pair, a, b)
      assert(cells.count() == rows.distinct.size.toLong)
      val gotV = StreamingContingency.cramersReport(cells)
        .collect().map(_.toSeq).toSeq
      val wantV = SparkEntry.queries("q_profile_cramers_v")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(gotV == wantV, "streaming Cramér's V drifted from batch")
      val gotMi = StreamingContingency.catMiReport(cells)
        .collect().map(_.toSeq).toSeq
      val wantMi = SparkEntry.queries("q_profile_cat_mi")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(gotMi == wantMi, "streaming quanta-MI drifted from batch")
    } finally query.stop()
  }
}
