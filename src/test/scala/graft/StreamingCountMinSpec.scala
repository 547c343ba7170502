package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingCountMin

/** The streaming Count-Min twin must reproduce the batch q_agg_countmin
  * estimates EXACTLY after any full replay (the sketch is deterministic),
  * keep state bounded at depth × width cells, and emit each cell's
  * running count at most once per micro-batch.
  */
class StreamingCountMinSpec extends SparkTestBase {

  private def checkpoint(): String =
    Files.createTempDirectory("graft-cm-ckpt").toString

  test("after a chunked replay the estimates equal batch q_agg_countmin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val keys = ops.table(spark, sfDir, "lineitem")
      .select(col("l_partkey").as("key")).as[Long].collect().toSeq

    val input = MemoryStream[Long]
    val query = StreamingCountMin.cells(input.toDF().toDF("key"))
      .writeStream.format("memory").queryName("cm_out")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      val chunks = keys.grouped(math.max(1, keys.length / 3)).toSeq
      chunks.foreach { c =>
        input.addData(c); query.processAllAvailable()
      }
      val cellTable = StreamingCountMin.latestCells(spark.table("cm_out"))
      // bounded state: never more than depth × width live cells
      assert(cellTable.count() <= 4L * 512L)
      val batch = SparkEntry.queries("q_agg_countmin")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
      val est = StreamingCountMin.estimates(
          batch.keySet.toSeq.toDF("key"), cellTable).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(est == batch,
        "streaming point estimates must equal the batch sketch reads")
      // latestCells takes the max count per cell: a cell's emitted counts
      // strictly increase, at most one emission per micro-batch
      val vs = spark.table("cm_out").groupBy("cell")
        .agg(count(lit(1)).as("n_emit"), countDistinct("cnt").as("n_cnt"))
        .collect()
      vs.foreach { r =>
        assert(r.getLong(1) == r.getLong(2), "a cell re-emitted a count")
        assert(r.getLong(1) <= chunks.size, "more emissions than micro-batches")
      }
    } finally query.stop()
  }

  test("mixed-sign keys: estimates equal a driver-side remainder sketch") {
    // negative keys are a real key space (round-8 synthetic ids); the
    // documented contract is remainder (%) arithmetic identical to the
    // batch sketch for ANY long key, so the streaming estimates must match
    // a driver replay of ((a·(k % P) + b) % P) % width with Java remainder
    // semantics (negative column hashes included)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val P = functions.ReplayableHash.P
    val params = functions.ReplayableHash.CountMinParams
    val W = ops.DiagOps.CmWidth
    val keys: Seq[Long] = Seq(-5L, -1L, 42L, -5L, 42L, -5L, 7L,
      -999999999999L, 7L, -1L, Long.MinValue + 1, 0L)
    def cellsOf(k: Long): Seq[(Int, Long)] =
      params.zipWithIndex.map { case ((a, b), r) =>
        (r, ((a * (k % P) + b) % P) % W)
      }
    val cellCnt = scala.collection.mutable.Map[(Int, Long), Long]()
      .withDefaultValue(0L)
    keys.foreach(k => cellsOf(k).foreach(c => cellCnt(c) += 1))
    def est(k: Long): Long = cellsOf(k).map(cellCnt).min

    val input = MemoryStream[Long]
    val query = StreamingCountMin.cells(input.toDF().toDF("key"))
      .writeStream.format("memory").queryName("cm_neg")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      input.addData(keys)
      query.processAllAvailable()
      val cellTable = StreamingCountMin.latestCells(spark.table("cm_neg"))
      val got = StreamingCountMin.estimates(
          keys.distinct.toDF("key"), cellTable).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val expected = keys.distinct.map(k => k -> est(k)).toMap
      assert(got == expected,
        "streaming estimates diverge from the remainder-arithmetic replay")
    } finally query.stop()
  }
}
