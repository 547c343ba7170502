package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingQuantile

/** The streaming exact-quantile twin must reproduce the batch
  * order-statistic selection EXACTLY after any full replay (the histogram
  * is lossless on the bounded cent domain), keep state bounded by the
  * value domain, and order the quartile reads.
  */
class StreamingQuantileSpec extends SparkTestBase {

  private def checkpoint(): String =
    Files.createTempDirectory("graft-sq-ckpt").toString

  test("after a chunked replay the median equals batch q_ts_anomaly_mad's") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = ops.table(spark, sfDir, "events")
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq

    val input = MemoryStream[(String, Double)]
    val query = StreamingQuantile.bins(
        input.toDF().toDF("event_type", "value"))
      .writeStream.format("memory").queryName("sq_out")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
        input.addData(c); query.processAllAvailable()
      }
      val bins = StreamingQuantile.latestBins(spark.table("sq_out"))
      // bounded state: one live bin per (type, cent) DOMAIN value
      val domain = rows.map(r =>
        (r._1, math.round(r._2 * 100))).distinct.size.toLong
      assert(bins.count() == domain)
      // exact-histogram check: bin counts equal driver-side counts
      val got = bins.collect()
        .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
      val expect = rows.groupBy(r => (r._1, math.round(r._2 * 100)))
        .view.mapValues(_.size.toLong).toMap
      assert(got == expect, "streaming histogram diverges from replay")
      val q = StreamingQuantile.quantiles(bins).collect()
        .map(r => (r.getString(0),
          (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
      // the med read is bit-identical to the batch lower-median selection
      val batchMed = SparkEntry.queries("q_ts_anomaly_mad")(spark, sfDir)
        .select("event_type", "med", "n").collect()
        .map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
      assert(q.keySet == batchMed.keySet)
      q.foreach { case (t, (q25, med, q75, n)) =>
        assert(med == batchMed(t)._1, s"median mismatch for $t")
        assert(n == batchMed(t)._2)
        assert(q25 <= med && med <= q75, s"quartiles out of order for $t")
      }
    } finally query.stop()
  }

  test("quantile reads: hand-computed ranks on a tiny histogram") {
    import spark.implicits._
    // n = 10: ranks are q25 -> (11 div 4) = 2, med -> 5, q75 -> (33 div 4) = 8
    val bins = Seq(
      ("t", 100L, 3L), ("t", 200L, 2L), ("t", 300L, 4L), ("t", 400L, 1L))
      .toDF("event_type", "cent", "cnt")
    val r = StreamingQuantile.quantiles(bins).collect().head
    assert(r.getDouble(1) == 1.0)  // rank 2 falls in the 3 ones
    assert(r.getDouble(2) == 2.0)  // rank 5 falls in the two 2.00s
    assert(r.getDouble(3) == 3.0)  // rank 8 falls in the four 3.00s
    assert(r.getLong(4) == 10L)
  }
}
