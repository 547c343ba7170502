package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** Wall-clock intervals (epoch ms) in which tracing is on: the open one
  * from [[begin]] until [[end]], and every closed one before it. Listener
  * events arrive asynchronously, so they are matched by their own time. */
class TracedIntervals {
  private val closed = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var openFromMs = Long.MaxValue

  def begin(fromMs: Long): Unit = openFromMs = fromMs

  def end(toMs: Long): Unit = {
    closed.add((openFromMs, toMs))
    openFromMs = Long.MaxValue
  }

  def covers(ms: Long): Boolean =
    ms >= openFromMs || closed.asScala.exists { case (a, b) => ms >= a && ms < b }
}

/** Lane (shuffle) counters of the tasks that finish inside traced
  * intervals. Registered by the benchmark, never by the program. */
final class LaneListener extends SparkListener {
  val traced = new TracedIntervals
  val shuffleWriteBytes = new LongAdder
  val shuffleWriteNs = new LongAdder
  val fetchWaitMs = new LongAdder
  private val events = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null && traced.covers(e.taskInfo.finishTime)) {
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleWriteNs.add(m.shuffleWriteMetrics.writeTime)
      fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = events.incrementAndGet()

  /** Waits until the listener bus has been quiet for 300 ms, so every task
    * end of the traced work has been counted. */
  def quiesce(): Unit = {
    var seen = -1L
    while (seen != events.get()) { seen = events.get(); Thread.sleep(300) }
  }
}

/** Per-micro-batch `StreamingQueryProgress` inside a traced interval. */
final class BatchListener extends StreamingQueryListener {
  val traced = new TracedIntervals
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    if (traced.covers(java.time.Instant.parse(p.timestamp).toEpochMilli)) progress.add(p)
  }

  private def durations(key: String): Seq[Double] =
    progress.asScala.toSeq.map(p => Option(p.durationMs.get(key)).fold(0.0)(_.doubleValue))

  def metrics: Seq[(String, Double, String)] = {
    val ps = progress.asScala.toSeq
    Seq(
      ("stream.batches", ps.size.toDouble, "count"),
      ("stream.rows_per_batch_p50", Stats.median(ps.map(_.numInputRows.toDouble)), "count"),
      ("stream.trigger_ms_p50", Stats.median(durations("triggerExecution")), "ms"),
      ("stream.add_batch_ms_p50", Stats.median(durations("addBatch")), "ms"),
      ("stream.planning_ms_p50", Stats.median(durations("queryPlanning")), "ms"),
      ("stream.commit_ms_p50", Stats.median(durations("commitOffsets")), "ms"))
  }
}

/** Per-layer figures from the endpoint's spans of one traced interval. */
object PutLayer {
  /** Metrics that sum over calls (the others are ratios or quantiles). */
  val Additive = Set("sink.chunk.requests", "service.put.calls", "service.put.busy_ms",
    "sink.retry.calls", "sink.retry.records", "sink.retry.backoff_ms")

  def metrics(spans: Seq[PutSpan], parallelism: Int, wallNs: Long): Seq[(String, Double, String)] = {
    val first = spans.filterNot(_.retry)
    val retries = spans.filter(_.retry)
    val durMs = spans.map(s => (s.endNs - s.startNs) / 1e6)
    val busyMs = durMs.sum
    val firstRecords = first.map(_.records.toLong).sum
    // max/mean records per lane, per delivery job (stage), median over jobs
    val skews = first.groupBy(_.stage).values.map { ss =>
      val perLane = ss.groupBy(_.partition).values.map(_.map(_.records.toLong).sum)
      perLane.max / (perLane.sum.toDouble / parallelism)
    }.toSeq
    Seq(
      ("sink.lanes.skew", Stats.median(skews), "ratio"),
      ("sink.chunk.requests", first.size.toDouble, "count"),
      ("sink.chunk.records_per_request", firstRecords.toDouble / math.max(1, first.size), "count"),
      ("sink.chunk.max_request_bytes", if (spans.isEmpty) 0.0 else spans.map(_.bytes).max.toDouble, "B"),
      ("service.put.calls", spans.size.toDouble, "count"),
      ("service.put.busy_ms", busyMs, "ms"),
      ("service.put.p50_ms", Stats.quantile(durMs, 0.5), "ms"),
      ("service.put.p99_ms", Stats.quantile(durMs, 0.99), "ms"),
      ("service.put.inflight_mean", busyMs / (wallNs / 1e6), "count"),
      ("sink.retry.calls", retries.size.toDouble, "count"),
      ("sink.retry.records", retries.map(_.records.toLong).sum.toDouble, "count"),
      ("sink.retry.backoff_ms", retries.map(_.backoffNs).sum / 1e6, "ms"),
      ("delivery.retry_amplification",
        spans.map(_.records.toLong).sum.toDouble / math.max(1L, firstRecords), "ratio"))
  }
}
