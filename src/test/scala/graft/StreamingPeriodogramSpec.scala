package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingPeriodogram

/** StreamingPeriodogram: bounded span-keyed state, exact batch parity. */
class StreamingPeriodogramSpec extends SparkTestBase {

  private def checkpoint(): String =
    Files.createTempDirectory("graft-pg-ckpt").toString

  test("after a chunked replay the report equals batch q_ts_periodogram") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val events = ops.table(spark, sfDir, "events")
      .selectExpr("event_type", "unix_micros(ts) AS us", "value")
      .as[(String, Long, Double)].collect().toSeq

    val input = MemoryStream[(String, Long, Double)]
    val frame = input.toDF().toDF("event_type", "us", "value")
      .selectExpr("event_type", "timestamp_micros(us) AS ts", "value")
    val query = StreamingPeriodogram.bars(frame)
      .writeStream.format("memory").queryName("pg_out")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      val chunks = events.grouped(math.max(1, events.length / 3)).toSeq
      chunks.foreach { c =>
        input.addData(c); query.processAllAvailable()
      }
      val emitted = spark.table("pg_out")
      // bounded state: one live cell per (type, OBSERVED hour)
      val nTypes = events.map(_._1).distinct.length.toLong
      val spanHours =
        events.map(_._2 / 3600000000L).max - events.map(_._2 / 3600000000L).min + 1
      val live = emitted.select("event_type", "h").distinct().count()
      assert(live <= nTypes * spanHours, "state exceeds the span bound")

      val got = StreamingPeriodogram.report(emitted).collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
        .toMap
      val batch = SparkEntry.queries("q_ts_periodogram")(spark, sfDir).collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
        .toMap
      assert(got == batch,
        "streaming report must equal the batch periodogram bit-for-bit")
      // the state reads take the sum at the max n per bar: a bar's
      // emitted n strictly increase, at most one emission per micro-batch
      val vs = emitted.groupBy("event_type", "h")
        .agg(count(lit(1)).as("n_emit"), countDistinct("n").as("n_n"))
        .collect()
      vs.foreach { r =>
        assert(r.getLong(2) == r.getLong(3), "a bar re-emitted an n")
        assert(r.getLong(2) <= chunks.size, "more emissions than micro-batches")
      }

      // r13: the SAME state table serves the whole grid-analytics family
      // — the ADF and Hurst reads run the batch bodies over the
      // state-induced grid and must equal their batch queries bit-for-bit
      val gotAdf = StreamingPeriodogram.adfReport(emitted).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4))).toSeq
      val batchAdf = SparkEntry.queries("q_ts_adf")(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4))).toSeq
      assert(gotAdf == batchAdf, "streaming ADF read drifted from batch")
      val gotHurst = StreamingPeriodogram.hurstReport(emitted).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      val batchHurst = SparkEntry.queries("q_ts_hurst")(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(gotHurst == batchHurst, "streaming Hurst read drifted from batch")
      // r14: the Granger screen joins the same family
      val gotGr = StreamingPeriodogram.grangerReport(emitted).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toSeq
      val batchGr = SparkEntry.queries("q_ts_granger")(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toSeq
      assert(gotGr == batchGr, "streaming Granger read drifted from batch")
      // r14c: and the cointegration screen
      val gotCo = StreamingPeriodogram.cointReport(emitted).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toSeq
      val batchCo = SparkEntry.queries("q_ts_coint")(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toSeq
      assert(gotCo == batchCo, "streaming coint read drifted from batch")
      // r15: the correlogram family joins too — acf/pacf/Ljung–Box all
      // run the factored batch chains over the state bars
      val gotAcf = StreamingPeriodogram.acfReport(emitted).collect()
        .map(_.toSeq).toSeq
      val batchAcf = SparkEntry.queries("q_ts_acf")(spark, sfDir).collect()
        .map(_.toSeq).toSeq
      assert(gotAcf == batchAcf, "streaming acf read drifted from batch")
      val gotPacf = StreamingPeriodogram.pacfReport(emitted).collect()
        .map(_.toSeq).toSeq
      val batchPacf = SparkEntry.queries("q_ts_pacf")(spark, sfDir).collect()
        .map(_.toSeq).toSeq
      assert(gotPacf == batchPacf, "streaming pacf read drifted from batch")
      val gotLb = StreamingPeriodogram.ljungReport(emitted).collect()
        .map(_.toSeq).toSeq
      val batchLb = SparkEntry.queries("q_ts_ljung_box")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(gotLb == batchLb, "streaming Ljung-Box read drifted from batch")
      // r15: the cross-spectrum pairing rides the same state grid
      val gotXs = StreamingPeriodogram.crossSpectrumReport(emitted)
        .collect().map(_.toSeq).toSeq
      val batchXs = SparkEntry.queries("q_ts_cross_spectrum")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(gotXs == batchXs,
        "streaming cross-spectrum read drifted from batch")
      val gotCoh = StreamingPeriodogram.coherenceReport(emitted)
        .collect().map(_.toSeq).toSeq
      val batchCoh = SparkEntry.queries("q_ts_coherence")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(gotCoh == batchCoh,
        "streaming coherence read drifted from batch")
      val gotW = StreamingPeriodogram.welchReport(emitted)
        .collect().map(_.toSeq).toSeq
      val batchW = SparkEntry.queries("q_ts_welch")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(gotW == batchW, "streaming Welch read drifted from batch")
    } finally query.stop()
  }
}
