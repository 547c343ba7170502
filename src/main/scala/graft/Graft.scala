package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{DeliveryCatalog, DeliverySettings, RetryPolicy, Serializers, StreamInfo}
import graft.streaming.{DeliveryService, DeliverySink}

/** User-level facade: everything a user of the reference library calls,
  * re-expressed for Spark. Reference → engine mapping (SURVEY §2A):
  *
  *   - R1/R7  `put` single record            → [[Graft.putOne]]
  *   - R2/R8  `put(batch)` / `batchPut`      → [[Graft.putAll]]
  *   - R3     `putWithRetry`                 → [[DeliverySink.putWithRetry]]
  *   - R4-R6  `produce(settings)` pipe       → [[Graft.produce]] (streaming)
  *                                             / [[Graft.deliver]] (bounded)
  *   - R9     `streamAsResource`             → [[DeliveryCatalog.withStream]]
  *   - R10-17 control plane                  → [[Graft.catalog]]
  *   - R18    `Serializer` typeclass         → [[Serializers]] columns
  *   - R19    `RecordOps.asRecord` syntax    → [[Graft.implicits.RichDataFrame]]
  *   - R20    `handle404`                    → `Option`-returning catalog ops
  *   - R21    `ProducerSettings`             → [[DeliverySettings]]
  *   - R22    client `Resource` lifecycle    → SparkSession lifecycle (the
  *            engine's only client object; managed by the caller/driver)
  */
object Graft {

  /** Firehose `PutRecordBatch` cap (reference `ProducerSettings.scala:61`). */
  val MaxBatchSize: Int = DeliverySettings.MaxBatchSize

  /** Default producer settings for a named stream (defaults mirror
    * reference `ProducerSettings.scala:79-82`). */
  def settings(streamName: String): DeliverySettings = DeliverySettings(streamName)

  /** Engine-wide control plane (R10-R17). */
  val catalog: DeliveryCatalog = new DeliveryCatalog

  /** R1/R7: deliver one serialized record (no retry — mirrors `put`). A
    * record over 1,000 KiB is never sent and gives `false`; a response
    * without one result throws (both as in [[DeliverySink.putWithRetry]]). */
  def putOne(service: DeliveryService, settings: DeliverySettings,
      payload: Array[Byte]): Boolean = {
    val (_, residual, _) =
      DeliverySink.putWithRetry(service, settings.streamName, Seq(payload), None)
    residual == 0
  }

  /** R2/R8: fold a local collection into capped batch requests with retry
    * (the sink's own [[DeliverySink.chunks]]: ≤ `batchSize` records and
    * ≤ 4 MiB per request). Residual failures are reported in the stats,
    * never dropped (R3 contract, reference `Firehose.scala:103`). */
  def putAll(service: DeliveryService, settings: DeliverySettings,
      payloads: Seq[Array[Byte]]): DeliverySink.DeliveryStats =
    DeliverySink.putChunks(service, settings.streamName, settings.batchSize,
      settings.retryPolicy, payloads.iterator)

  /** R4-R6 bounded form: frame + chunk + deliver a DataFrame. */
  def deliver(df: DataFrame, settings: DeliverySettings,
      service: DeliveryService, cols: Column*): DeliverySink.DeliveryStats =
    DeliverySink.deliver(DeliverySink.payloads(df, settings, cols: _*), settings, service)

  /** R4-R6 with the reference pipe's *output*: a distributed per-record
    * delivery-report DataFrame (≙ the emitted `PutRecordBatchResult`s). */
  def deliverWithReport(df: DataFrame, settings: DeliverySettings,
      service: DeliveryService, cols: Column*): DataFrame =
    DeliverySink.deliverWithReport(
      DeliverySink.payloads(df, settings, cols: _*), settings, service)

  /** R4-R6 streaming form: the flagship `produce(settings)` pipe as a
    * Structured Streaming query (micro-batch ≙ `groupWithin`). */
  def produce(source: DataFrame, settings: DeliverySettings,
      service: DeliveryService, checkpointDir: String)
      : (StreamingQuery, () => DeliverySink.DeliveryStats) =
    DeliverySink.run(source, settings, service, checkpointDir)

  /** R9: bracketed stream lifecycle around a body. */
  def withStream[A](name: String)(use: StreamInfo => A): A =
    catalog.withStream(name)(use)

  def retryPolicy(baseDelayMs: Long, maxRetries: Int): RetryPolicy =
    RetryPolicy(baseDelayMs, maxRetries)

  /** R19 enrichment syntax (`t.asRecord()` analog, reference
    * `RecordOps.scala:24-32`). */
  object implicits {
    implicit final class RichDataFrame(private val df: DataFrame) extends AnyVal {
      /** Rows as framed binary records (serialize ⧺ separator). */
      def asFramedRecords(settings: DeliverySettings, cols: Column*): DataFrame =
        DeliverySink.payloads(df, settings, cols: _*)

      /** Deliver this bounded frame to a service with retry. */
      def deliverTo(settings: DeliverySettings,
          service: DeliveryService): DeliverySink.DeliveryStats =
        Graft.deliver(df, settings, service)
    }
  }
}
