package graft.streaming

import scala.collection.immutable.ArraySeq

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.BinaryType

import graft.core.{DeliverySettings, RetryPolicy, Serializers}

/** Streaming delivery pipeline — the engine's realization of the reference's
  * flagship `produce(settings)` pipe (reference `firehose.scala:67-80`):
  *
  *   - micro-batch boundary: Spark's Structured Streaming planner +
  *     `Trigger.ProcessingTime(triggerIntervalMs)` replaces fs2
  *     `groupWithin(batchSize, timeWindow)` (`firehose.scala:71`);
  *   - serialization/framing: one Catalyst expression per row
  *     (Serializers.framedRow ≙ `firehose.scala:58-60`), evaluated on
  *     executors inside codegen: for string, boolean and numeric fields a
  *     one-pass kernel writes the JSON and separator straight from the
  *     binary row, byte-identical to `to_json` (graft.core.FramedJson);
  *   - request assembly: [[chunks]] closes a request at `batchSize` records
  *     (`ProducerSettings.scala:61` cap) or 4 MiB, whichever comes first;
  *     a record over 1,000 KiB is never sent and reports `RecordTooLarge`;
  *   - bounded parallel submission: [[lanes]] (at most `parallelism`
  *     partitions of the input itself, no shuffle when it has that many) +
  *     one in-flight request per task ≙ `mapAsync(parallelism)`
  *     (`firehose.scala:41`);
  *   - partial-failure retry: `putWithRetry` below ≙ `Firehose.scala:70-105`.
  *
  * Trade-off: framing runs in the lane tasks, so in at most `parallelism`
  * tasks. That is as many as or more than the reference, which frames on a
  * single fiber; but with `parallelism` well below the cores and a
  * near-instant endpoint, framing is spread over fewer cores than a
  * shuffle in front of the lanes would allow.
  *
  * At cluster scale nothing here is driver-bound: each executor task owns
  * its partition's chunking, submission and retries; the driver only sees
  * accumulator totals.
  */
object DeliverySink {

  /** Totals for one delivery (driver-visible via accumulators). */
  final case class DeliveryStats(
      records: Long, batches: Long, retriedRecords: Long, residualFailures: Long)

  /** Error code of a record over [[DeliverySettings.MaxRecordBytes]]: a
    * residual failure that is never sent. */
  val RecordTooLarge = "RecordTooLarge"

  /** Whether `record` is within the per-record byte cap, i.e. is sent. */
  private def fits(record: Array[Byte]): Boolean =
    record.length <= DeliverySettings.MaxRecordBytes

  /** R3 `putWithRetry` semantics (reference `Firehose.scala:70-105`):
    * submit; while `failedPutCount > 0` and retries remain, back off and
    * resubmit ONLY the failed records (zip request records with per-record
    * responses, keep those with null record id — `Firehose.scala:86-97`).
    * Thrown service errors are NOT retried (`Firehose.scala:81`); residual
    * failures after exhaustion are reported, never silently dropped
    * (`Firehose.scala:103`).
    *
    * @return (delivered, residualFailures, retriedRecords)
    */
  def putWithRetry(
      service: DeliveryService,
      streamName: String,
      batch: Seq[Array[Byte]],
      policy: Option[RetryPolicy]): (Long, Long, Long) = {
    val (outcomes, retried) = putWithRetryOutcomes(service, streamName, batch, policy)
    val residual = outcomes.count(_.failed).toLong
    ((batch.size - residual), residual, retried)
  }

  /** As [[putWithRetry]], but returns every record's terminal outcome
    * (plus the retried-record count) — the single implementation of the R3
    * loop; totals and per-record reports both derive from it. A record over
    * [[DeliverySettings.MaxRecordBytes]] is never sent: its outcome is
    * [[RecordTooLarge]]. A response whose result count differs from the
    * request's record count throws, like a service error (not retried). */
  def putWithRetryOutcomes(
      service: DeliveryService,
      streamName: String,
      batch: Seq[Array[Byte]],
      policy: Option[RetryPolicy]): (Array[RecordResult], Long) = {
    val records = batch.toIndexedSeq
    val outcome = new Array[RecordResult](records.size)
    val (sendable, tooLarge) = records.indices.partition(i => fits(records(i)))
    tooLarge.foreach(i => outcome(i) = RecordResult(null, RecordTooLarge))
    // submits the records at `idx`, records their outcomes, returns the failed
    def put(idx: Seq[Int]): Seq[Int] = {
      val results = service.putBatch(streamName, idx.map(records)).results
      if (results.size != idx.size)
        throw new IllegalStateException(s"put to '$streamName' returned " +
          s"${results.size} results for ${idx.size} records")
      idx.zip(results).foreach { case (i, r) => outcome(i) = r }
      idx.filter(outcome(_).failed)
    }
    var failed = if (sendable.isEmpty) sendable else put(sendable)
    var retried = 0L
    policy.foreach { p =>
      var attempt = 0
      while (failed.nonEmpty && attempt < p.maxRetries) {
        attempt += 1
        if (p.delayMs(attempt) > 0) Thread.sleep(p.delayMs(attempt))
        retried += failed.size
        failed = put(failed)
      }
    }
    (outcome, retried)
  }

  /** Request assembly: groups `records` into requests that close at
    * `batchSize` records or [[DeliverySettings.MaxRequestBytes]] bytes,
    * whichever comes first. A record over [[DeliverySettings.MaxRecordBytes]]
    * takes a place in a request but adds no bytes to it, since it is never
    * sent. */
  def chunks(records: Iterator[Array[Byte]], batchSize: Int): Iterator[Seq[Array[Byte]]] = {
    def sentBytes(r: Array[Byte]): Long = if (fits(r)) r.length else 0L
    val in = records.buffered
    Iterator.continually {
      val chunk = ArraySeq.newBuilder[Array[Byte]]
      var n = 0
      var bytes = 0L
      while (in.hasNext && n < batchSize &&
          bytes + sentBytes(in.head) <= DeliverySettings.MaxRequestBytes) {
        val r = in.next()
        chunk += r
        n += 1
        bytes += sentBytes(r)
      }
      chunk.result()
    }.takeWhile(_.nonEmpty)
  }

  /** Chunks `records` into requests, puts each with retry, and totals the
    * outcome: the one loop behind [[graft.Graft.putAll]] and each lane of
    * [[deliver]]. A request counts as a batch only if it sends a record. */
  def putChunks(service: DeliveryService, streamName: String, batchSize: Int,
      policy: Option[RetryPolicy], records: Iterator[Array[Byte]]): DeliveryStats = {
    var delivered = 0L
    var residual = 0L
    var retried = 0L
    var batches = 0L
    chunks(records, batchSize).foreach { chunk =>
      val (d, f, r) = putWithRetry(service, streamName, chunk, policy)
      delivered += d; residual += f; retried += r
      if (chunk.exists(fits)) batches += 1
    }
    DeliveryStats(delivered, batches, retried, residual)
  }

  /** The delivery lanes: the framed records of `df` (a single BinaryType
    * column) as at most `parallelism` partitions, each delivered by one task.
    * An input with at least `parallelism` partitions is narrowed with
    * `coalesce`, which has no exchange: framing and puts run in the same
    * task and the framed bytes are never shuffled. Only an input with fewer
    * partitions than lanes pays a round-robin `repartition`, so that a
    * 1-partition micro-batch still gets `parallelism` lanes. The partition
    * count is read from the same RDD the lanes run on, so the input is
    * planned once.
    *
    * The records are column 0 of the input's own binary rows
    * (`queryExecution.toRdd`), copied out by [[PayloadOf]] before the
    * `repartition` branch, since Spark reuses its rows. That function, and
    * the partition functions of [[deliver]] and [[deliverWithReport]], are
    * named serializable classes, not lambdas, and [[deliver]] submits its
    * lanes with `SparkContext.runJob` itself: Spark's `ClosureCleaner`
    * treats only lambdas as closures, and for each lambda it re-reads and
    * parses the class files it was defined in (`Dataset`, `RDD`,
    * `SparkContext`, this object) on every call, a fixed cost per delivery.
    */
  def lanes(df: DataFrame, parallelism: Int): RDD[Array[Byte]] = {
    require(df.schema.headOption.exists(_.dataType == BinaryType),
      s"delivery needs a BinaryType payload column first, got ${df.schema.simpleString}")
    val records = df.queryExecution.toRdd.map(new PayloadOf)
    if (records.getNumPartitions >= parallelism) records.coalesce(parallelism)
    else records.repartition(parallelism)
  }

  /** Column 0 of a framed row, as a copy. */
  private final class PayloadOf extends (InternalRow => Array[Byte]) with Serializable {
    def apply(row: InternalRow): Array[Byte] = row.getBinary(0)
  }

  /** Deliver a bounded DataFrame of framed payloads. `df` must expose a
    * single BinaryType column (use [[payloads]] to build it). Distributed:
    * each of the [[lanes]] chunks and submits its own partition.
    */
  def deliver(df: DataFrame, settings: DeliverySettings, service: DeliveryService): DeliveryStats = {
    val totals = new StatsAccumulators(df.sparkSession.sparkContext)
    deliverInto(df, settings, service, totals)
    totals.value
  }

  /** The four named accumulators a delivery adds its lanes' totals to. */
  private final class StatsAccumulators(sc: SparkContext) extends Serializable {
    private val records = sc.longAccumulator("delivery.records")
    private val batches = sc.longAccumulator("delivery.batches")
    private val retried = sc.longAccumulator("delivery.retried")
    private val residual = sc.longAccumulator("delivery.residual")

    def add(stats: DeliveryStats): Unit = {
      records.add(stats.records)
      batches.add(stats.batches)
      retried.add(stats.retriedRecords)
      residual.add(stats.residualFailures)
    }

    def value: DeliveryStats =
      DeliveryStats(records.value, batches.value, retried.value, residual.value)
  }

  private def deliverInto(df: DataFrame, settings: DeliverySettings,
      service: DeliveryService, totals: StatsAccumulators): Unit = {
    val records = lanes(df, settings.parallelism)
    df.sparkSession.sparkContext.runJob(records,
      new DeliverLane(settings.streamName, settings.batchSize, settings.retryPolicy, service,
        totals),
      0 until records.getNumPartitions)
  }

  /** One lane of [[deliver]]: [[putChunks]] over the lane, its totals added
    * to the accumulators. */
  private final class DeliverLane(
      name: String,
      batchSize: Int,
      policy: Option[RetryPolicy],
      service: DeliveryService,
      totals: StatsAccumulators)
    extends ((TaskContext, Iterator[Array[Byte]]) => Unit) with Serializable {

    def apply(context: TaskContext, records: Iterator[Array[Byte]]): Unit =
      totals.add(putChunks(service, name, batchSize, policy, records))
  }

  /** Per-record delivery outcome row — the engine's analog of the
    * reference pipe's `PutRecordBatchResult` output stream
    * (`firehose.scala:67-69`: the producer pipe *emits* results, it doesn't
    * just count them). */
  final case class DeliveryReportRow(
      payload_sha: String, payload_len: Int, delivered: Boolean, error: String)

  /** Deliver and emit one report row per record. Delivery runs inside a
    * `mapPartitions` transformation so per-record outcomes never funnel
    * through the driver; the result is eagerly materialized and persisted —
    * otherwise every downstream action (or stage recomputation) would
    * re-deliver the records. Delivery is therefore at-least-once under
    * task retry, like any side-effecting Spark stage; callers should
    * `unpersist()` the report when done.
    */
  def deliverWithReport(
      df: DataFrame,
      settings: DeliverySettings,
      service: DeliveryService): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val report = lanes(df, settings.parallelism)
      .mapPartitions(new ReportLane(settings.streamName, settings.batchSize, settings.retryPolicy,
        service))
      .toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    report.count() // materialize exactly one delivery pass
    report
  }

  /** One lane of [[deliverWithReport]]: chunks the lane, puts each request
    * with retry and emits one report row per record. */
  private final class ReportLane(
      name: String, batchSize: Int, policy: Option[RetryPolicy], service: DeliveryService)
    extends (Iterator[Array[Byte]] => Iterator[DeliveryReportRow]) with Serializable {

    def apply(records: Iterator[Array[Byte]]): Iterator[DeliveryReportRow] = {
      val sha256 = java.security.MessageDigest.getInstance("SHA-256")
      val hex = java.util.HexFormat.of()
      chunks(records, batchSize).flatMap { chunk =>
        val (outcome, _) = putWithRetryOutcomes(service, name, chunk, policy)
        chunk.iterator.zip(outcome.iterator).map { case (rec, r) =>
          DeliveryReportRow(hex.formatHex(sha256.digest(rec)), rec.length,
            !r.failed, Option(r.errorCode).getOrElse(""))
        }
      }
    }
  }

  /** Serialize + frame source columns into the single payload column
    * expected by [[deliver]]. */
  def payloads(df: DataFrame, settings: DeliverySettings, cols: Column*): DataFrame = {
    val selected =
      if (cols.nonEmpty) cols
      else df.columns.toSeq.map(org.apache.spark.sql.functions.col)
    df.select(Serializers.framedRow(df.sparkSession, settings.separator, selected: _*).as("payload"))
  }

  /** R1 analog: per-row streaming sink via `ForeachWriter` (reference
    * `Firehose.scala:30/:65` — one synchronous `put` per record). Use only
    * for low-volume streams; the batched [[run]] path is the default. */
  def foreachWriter(settings: DeliverySettings,
      service: DeliveryService): org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] =
    new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
      override def open(partitionId: Long, epochId: Long): Boolean = true
      override def process(row: org.apache.spark.sql.Row): Unit = {
        val payload = row.getAs[Array[Byte]](0)
        val (_, residual, _) = DeliverySink.putWithRetry(service,
          settings.streamName, Seq(payload), settings.retryPolicy)
        // a ForeachWriter has no report channel: surfacing the residual
        // failure means failing the task (Spark will retry the epoch)
        if (residual > 0)
          throw new RuntimeException(
            s"record not delivered to '${settings.streamName}' after retries")
      }
      override def close(errorOrNull: Throwable): Unit = ()
    }

  /** Run the full streaming pipeline: micro-batch the source per
    * `triggerIntervalMs` (≙ `groupWithin` time dimension), frame rows, and
    * deliver each micro-batch with retry. Stats accumulate across batches.
    */
  def run(
      source: DataFrame,
      settings: DeliverySettings,
      service: DeliveryService,
      checkpointDir: String): (StreamingQuery, () => DeliveryStats) = {
    val totals = new StatsAccumulators(source.sparkSession.sparkContext)
    val query = source.writeStream
      .trigger(Trigger.ProcessingTime(settings.triggerIntervalMs))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        deliverInto(payloads(batch, settings), settings, service, totals)
      }
      .start()
    (query, () => totals.value)
  }
}
