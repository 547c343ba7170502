package graft.streaming

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.core.DeliverySettings

/** Per-record result of a batch put — the engine's analog of the per-record
  * entries in `PutRecordBatchResult.getRequestResponses` (reference
  * `Firehose.scala:86-97`): a failed record carries an error code and a
  * null record id; a delivered record carries its record id.
  */
final case class RecordResult(recordId: String, errorCode: String) {
  def failed: Boolean = recordId == null
}

final case class BatchResult(results: Seq[RecordResult]) {
  /** `getFailedPutCount` analog (reference `Firehose.scala:81`). */
  def failedPutCount: Int = results.count(_.failed)
}

/** A delivery endpoint accepting `PutRecordBatch`-sized requests (≤ 500
  * records, ≤ 4 MiB, no record over 1,000 KiB). Implementations must
  * be thread-safe and serializable: the sink submits batches from executor
  * task threads.
  */
trait DeliveryService extends Serializable {
  def putBatch(streamName: String, records: Seq[Array[Byte]]): BatchResult
}

/** In-memory fake of the Firehose data plane for tests — the engine's
  * LocalStack stand-in (reference `FirehoseTest.scala:35-53`), with fault
  * injection so the retry path is actually exercised (the reference's tests
  * never fail a record; ours do).
  *
  * Limits: a request over 500 records or 4 MiB, or holding a record over
  * 1,000 KiB, throws, where the real service would reject it.
  *
  * Fault model: a record FAILS on attempts 1..`failFirstAttempts` of its own
  * delivery history if `hash(record) % failEveryNth == 0`; it succeeds once
  * re-submitted after that. `alwaysFailMarker`, if contained in the payload,
  * fails the record on every attempt (to test residual-failure reporting).
  * A payload containing `throwMarker` throws — errors are NOT retried
  * (reference `Firehose.scala:81` retries only on predicate failure; thrown
  * SDK errors surface immediately via `:103`).
  *
  * Instances are serializable config + an id; all mutable state lives in a
  * same-JVM static registry so executor-side (deserialized) copies and the
  * test driver observe one shared state — valid in local[n], which is the
  * only place the mock runs.
  *
  * Limitation: records are content-addressed (attempt counts keyed by
  * payload bytes), so two identical payloads in one request share a
  * delivery history and the fault injector treats the second copy as a
  * retry. Tests must use unique payloads.
  */
final class MockDeliveryService(
    failEveryNth: Int = 0,
    failFirstAttempts: Int = 1,
    alwaysFailMarker: String = null,
    throwMarker: String = null)
  extends DeliveryService {

  val id: String = UUID.randomUUID().toString
  MockDeliveryService.states.putIfAbsent(id, new MockDeliveryService.State)

  private def state: MockDeliveryService.State = MockDeliveryService.states.get(id)

  override def putBatch(streamName: String, records: Seq[Array[Byte]]): BatchResult = {
    require(records.size <= DeliverySettings.MaxBatchSize, s"batch too large: ${records.size}")
    require(records.forall(_.length <= DeliverySettings.MaxRecordBytes),
      s"record over ${DeliverySettings.MaxRecordBytes} bytes")
    val bytes = records.iterator.map(_.length.toLong).sum
    require(bytes <= DeliverySettings.MaxRequestBytes, s"request too large: $bytes bytes")
    val st = state
    st.batchSizes.add(records.size)
    val results = records.map { rec =>
      val s = new String(rec, java.nio.charset.StandardCharsets.UTF_8)
      if (throwMarker != null && s.contains(throwMarker))
        throw new RuntimeException(s"service error on record: $s")
      val attempt = st.attempts.merge(s, 1, (a, b) => a + b)
      val always = alwaysFailMarker != null && s.contains(alwaysFailMarker)
      val injected = failEveryNth > 0 &&
        math.floorMod(s.hashCode, failEveryNth) == 0 && attempt <= failFirstAttempts
      if (always || injected) RecordResult(null, "ServiceUnavailableException")
      else {
        st.delivered.add(rec)
        RecordResult(s"rec-${st.idGen.incrementAndGet()}", null)
      }
    }
    BatchResult(results)
  }

  def delivered: Seq[Array[Byte]] = state.delivered.asScala.toSeq
  def deliveredStrings: Seq[String] =
    delivered.map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
  def batchSizes: Seq[Int] = state.batchSizes.asScala.map(_.intValue).toSeq
  def attemptsFor(payload: String): Int =
    Option(state.attempts.get(payload)).fold(0)(_.intValue)
}

object MockDeliveryService {
  private final class State {
    val idGen = new AtomicLong(0L)
    val delivered = new ConcurrentLinkedQueue[Array[Byte]]()
    val attempts = new ConcurrentHashMap[String, Integer]()
    val batchSizes = new ConcurrentLinkedQueue[Integer]()
  }
  private val states = new ConcurrentHashMap[String, State]()
}
