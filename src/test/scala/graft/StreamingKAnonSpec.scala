package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingKAnon

/** The streaming k-anonymity twin must reproduce batch
  * q_profile_k_anon bit-for-bit after any chunked replay, with state
  * keyed by quasi-identifier classes (domain-bounded), not rows. */
class StreamingKAnonSpec extends SparkTestBase {

  private def checkpoint(): String =
    Files.createTempDirectory("graft-ka-ckpt").toString

  test("after a chunked replay the report equals batch q_profile_k_anon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = graft.ops.ProfileOps
      .kAnonBanded(graft.ops.table(spark, sfDir, "customer"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

    val input = MemoryStream[(Long, Long, String)]
    val query = StreamingKAnon.classes(
        input.toDF().toDF("nation", "bal_band", "c_mktsegment"))
      .writeStream.format("memory").queryName("ka_out")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
        input.addData(c); query.processAllAvailable()
      }
      val classes = StreamingKAnon.latestClasses(spark.table("ka_out"))
      // bounded state: one live class per observed (nation, band)
      assert(classes.count() == rows.map(r => (r._1, r._2)).distinct.size.toLong)
      val got = StreamingKAnon.report(classes)
        .collect().map(_.toSeq).toSeq
      val want = SparkEntry.queries("q_profile_k_anon")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(got == want, "streaming k-anonymity drifted from batch")
    } finally query.stop()
  }
}
