package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicLongArray, LongAdder}
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ArraySeq

import org.apache.spark.TaskContext

import graft.streaming.{BatchResult, DeliveryService, RecordResult}

/** Fixed-width latency histogram (50 µs buckets up to 20 s, then one
  * overflow bucket), safe for concurrent recording. */
final class LatencyHistogram {
  private val widthNs = 50000L
  private val buckets = new AtomicLongArray(400001)

  def record(latencyNs: Long, count: Long): Unit =
    if (count > 0)
      buckets.addAndGet(math.min(math.max(latencyNs, 0L) / widthNs, buckets.length - 1L).toInt, count)

  def merge(other: LatencyHistogram): Unit =
    (0 until buckets.length).foreach(i => buckets.addAndGet(i, other.buckets.get(i)))

  def count: Long = (0 until buckets.length).iterator.map(buckets.get).sum

  /** The `q` quantile in ms (bucket midpoint), NaN when empty. */
  def quantileMs(q: Double): Double = {
    val total = count
    if (total == 0) return Double.NaN
    val rank = math.max(1L, math.ceil(q * total).toLong)
    var seen = 0L
    var i = 0
    while (seen + buckets.get(i) < rank) { seen += buckets.get(i); i += 1 }
    (i + 0.5) * widthNs / 1e6
  }
}

/** Acknowledgements of records due in `[fromNs, toNs)` (absolute
  * `System.nanoTime`) are timed from their due time into `hist`. */
final case class LatencyWindow(fromNs: Long, toNs: Long, hist: LatencyHistogram)

/** One `putBatch` call as the endpoint saw it. `retry` marks a call that
  * carried records failed by an earlier call; `backoffNs` is the lane's
  * time between that earlier call's return and this call. */
final case class PutSpan(
    stage: Int, partition: Int, startNs: Long, endNs: Long, records: Int, bytes: Long,
    failed: Int, retry: Boolean, backoffNs: Long)

/** Simulated Firehose data plane owned by the benchmark.
  *
  *   - every call costs `serviceNanos` of wall time (a parked thread, like a
  *     lane waiting on the network);
  *   - a record fails its first put when `Records.failsFirst` says so for
  *     its payload hash; it is accepted when it comes back;
  *   - `PutRecordBatch` limits are enforced: in a call over 500 records or
  *     4 MiB, the records past the limit fail, and a record over 1,000 KiB
  *     fails alone; each over-limit call and each oversized record counts
  *     as a limit violation. The real service rejects an over-limit call as
  *     a whole; failing only the overflow lets a sink that chunks by count
  *     alone still finish, so what the limit costs it shows as violations,
  *     retried records and backoff rather than as lost records.
  *
  * Bookkeeping is O(failures + calls): acknowledged records only add to a
  * count, a wrap-around hash sum and a latency histogram. Mutable state
  * lives in a same-JVM registry so that the copies Spark deserializes on
  * executor threads share it (valid in local mode, where the benchmark
  * runs).
  */
final class SimulatedFirehose(
    serviceNanos: Long, failPermille: Int, faultSalt: Long, stampedDue: Boolean)
  extends DeliveryService {

  val id: String = java.util.UUID.randomUUID().toString
  SimulatedFirehose.states.put(id, new SimulatedFirehose.State)

  def state: SimulatedFirehose.State = SimulatedFirehose.states.get(id)

  override def putBatch(streamName: String, records: Seq[Array[Byte]]): BatchResult = {
    import SimulatedFirehose._
    val st = state
    val start = System.nanoTime()
    val traced = st.traced
    if (traced) st.inflightMax.accumulateAndGet(st.inflight.incrementAndGet(), math.max(_, _))
    val n = records.size
    var bytes = 0L
    records.foreach(r => bytes += r.length)
    val overRequest = n > MaxRecords || bytes > MaxRequestBytes
    var violations = if (overRequest) 1 else 0
    val results = new Array[RecordResult](n)
    val dues = if (stampedDue) new Array[Long](n) else null
    var k = 0
    var acked = 0
    var retryHits = 0
    var digest = 0L
    var within = 0L
    val it = records.iterator
    while (it.hasNext) {
      val rec = it.next()
      var ok = false
      // records past the request limits fail; the ones before them count
      within += rec.length
      if (k < MaxRecords && within <= MaxRequestBytes) {
        if (rec.length > MaxRecordBytes) violations += 1
        else {
          val h = Records.hashBytes(rec)
          if (failPermille > 0 && st.failedOnce.remove(h)) { retryHits += 1; ok = true }
          else if (Records.failsFirst(h, faultSalt, failPermille)) st.failedOnce.add(h)
          else ok = true
          if (ok) digest += h
        }
      }
      if (ok) {
        if (dues != null) dues(acked) = st.baseNs + parseDue(rec)
        acked += 1
        results(k) = Ok
      } else results(k) = Failed
      k += 1
    }
    val deadline = start + serviceNanos
    var left = deadline - System.nanoTime()
    while (left > 0) { LockSupport.parkNanos(left); left = deadline - System.nanoTime() }
    val end = System.nanoTime()

    st.acked.add(acked)
    st.digest.add(digest)
    if (violations > 0) st.violations.add(violations)
    val windows = st.windows
    if (windows.nonEmpty) {
      if (dues == null) windowFor(windows, st.bulkDueNs).foreach(_.hist.record(end - st.bulkDueNs, acked))
      else {
        var measured = 0
        var j = 0
        while (j < acked) {
          val due = dues(j)
          windowFor(windows, due).foreach { w => w.hist.record(end - due, 1); measured += 1 }
          j += 1
        }
        if (measured > 0) {
          st.measuredAcks.add(measured)
          st.firstAckNs.accumulateAndGet(end, math.min(_, _))
          st.lastAckNs.accumulateAndGet(end, math.max(_, _))
        }
      }
    }
    val last = lastCall.get()
    if (traced) {
      st.inflight.decrementAndGet()
      val tc = TaskContext.get()
      val retry = retryHits > 0
      st.spans.add(PutSpan(
        if (tc == null) -1 else tc.stageId(), if (tc == null) -1 else tc.partitionId(),
        start, end, n, bytes, n - acked, retry,
        if (retry && last(1) > 0) start - last(0) else 0L))
    }
    last(0) = end
    last(1) = n - acked
    BatchResult(ArraySeq.unsafeWrapArray(results))
  }
}

object SimulatedFirehose {
  val MaxRecords = 500
  val MaxRequestBytes: Long = 4L * 1024 * 1024
  val MaxRecordBytes: Int = 1000 * 1024

  private val Ok = RecordResult("ack", null)
  private val Failed = RecordResult(null, "ServiceUnavailableException")
  private val Prefix = "{\"due_ns\":".length

  /** Per lane thread: end of its previous call and that call's failures. */
  private val lastCall = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](2))

  final class State {
    val acked = new LongAdder
    val digest = new LongAdder
    val violations = new LongAdder
    /** Acks of records due inside a latency window, and the first and last
      * of those acks (stream mode). */
    val measuredAcks = new LongAdder
    val firstAckNs = new AtomicLong(Long.MaxValue)
    val lastAckNs = new AtomicLong(Long.MinValue)
    val failedOnce: java.util.Set[java.lang.Long] = ConcurrentHashMap.newKeySet[java.lang.Long]()
    val inflight = new AtomicInteger
    val inflightMax = new AtomicInteger
    val spans = new ConcurrentLinkedQueue[PutSpan]()
    @volatile var traced = false
    /** Stream mode: absolute origin of the payloads' `due_ns`. */
    @volatile var baseNs = 0L
    /** Bulk mode: the due time of every record (start of the delivery). */
    @volatile var bulkDueNs = 0L
    @volatile var windows: Array[LatencyWindow] = Array.empty

    def resetCounts(): Unit = {
      Seq(acked, digest, violations, measuredAcks).foreach(_.reset())
      firstAckNs.set(Long.MaxValue)
      lastAckNs.set(Long.MinValue)
      failedOnce.clear()
      inflightMax.set(0)
      spans.clear()
    }
  }

  private[perfbench] val states = new ConcurrentHashMap[String, State]()

  private def windowFor(ws: Array[LatencyWindow], due: Long): Option[LatencyWindow] =
    ws.find(w => due >= w.fromNs && due < w.toNs)

  /** Reads the digits after the leading `{"due_ns":` of a framed payload. */
  private def parseDue(rec: Array[Byte]): Long = {
    var i = Prefix
    var v = 0L
    while (i < rec.length && rec(i) >= '0' && rec(i) <= '9') { v = v * 10 + (rec(i) - '0'); i += 1 }
    v
  }
}
