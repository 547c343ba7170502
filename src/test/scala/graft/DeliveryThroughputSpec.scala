package graft

import org.apache.spark.sql.functions._

import graft.core.DeliverySettings
import graft.streaming.{BatchResult, DeliveryService, DeliverySink, RecordResult}

/** Throughput floor for the executor-side delivery path (round-7 verdict
  * item: the ×10 streaming rate had drifted in a 590–670k rec/s band on
  * local[32] across rounds; nothing failed loudly if an
  * executor-side regression — framing falling off the one-pass
  * FramedJson kernel or out of codegen, per-record allocation blowup —
  * cut it). This spec pins a conservative
  * floor in `sbt test` conditions: the shared local[4] session over
  * ×5-replicated sf0.1 events (500k records), against an accept-all
  * service so the number measures the ENGINE (serialize → frame → lanes,
  * narrowed without a shuffle → ≤500-record, ≤4 MiB chunking → submit),
  * not mock bookkeeping.
  *
  * The floor is ~4× below the idle local[4] rate measured at pin time
  * (round 8: 184k rec/s incl. startup), wide enough for box contention
  * and tight enough
  * that any multiplicative executor-path regression trips it. The
  * local[32] reference band is a dated row in SCALING.md ("Round 7: ×10
  * rows for the new operators"); perfbench measures the delivery path by
  * layer.
  */
class DeliveryThroughputSpec extends SparkTestBase {

  test("delivery pipeline sustains the local[4] throughput floor") {
    val srcDir = "/root/testdata/sf0.1"
    val copies = 5
    // content-keyed temp fixture: ×5 key-shifted copies, written once
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft-tput-x5-" +
        ops.SourceSinkOps.fixtureKey(srcDir, "events.parquet")).getAbsolutePath
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      val ev = ops.table(spark, srcDir, "events")
        .select("event_id", "user_id", "event_type", "value")
      (0 until copies).map(i =>
          ev.withColumn("event_id", col("event_id") + lit(i * 100000000L)))
        .reduce(_.union(_))
        .write.mode("overwrite").parquet(path)
    }
    val schema = spark.read.parquet(path).schema
    val source = spark.readStream.schema(schema).parquet(path)
    val acceptAll = new DeliveryService {
      override def putBatch(streamName: String,
          records: Seq[Array[Byte]]): BatchResult =
        BatchResult(records.map(_ => RecordResult("ok", null)))
    }
    val settings = DeliverySettings("tput-floor", triggerIntervalMs = 0L,
      parallelism = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tput-ckpt").toString
    val t0 = System.nanoTime()
    val (query, stats) = DeliverySink.run(source, settings, acceptAll, ckpt)
    try query.processAllAvailable() finally query.stop()
    val dt = (System.nanoTime() - t0) / 1e9
    val st = stats()
    val rate = st.records / dt
    info(f"delivered ${st.records} records in ${dt}%.2f s (${rate}%.0f rec/s)")
    assert(st.records == 100000L * copies && st.residualFailures == 0)
    assert(rate >= 50000.0,
      f"delivery throughput $rate%.0f rec/s below the 50k floor " +
        "(executor-side regression?)")
  }
}
