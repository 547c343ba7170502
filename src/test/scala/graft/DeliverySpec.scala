package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

import graft.core.{DeliverySettings, RetryPolicy}
import graft.streaming.{BatchResult, DeliveryService, DeliverySink,
  MockDeliveryService, RecordResult}

/** Seeded flaky-network wrapper (r11): deterministic per-call latency plus
  * whole-call failure bursts on scheduled call indexes — the reference's
  * reason to exist (delivery under a flaky network, `Firehose.scala:70-105`)
  * exercised without real egress. Call `n` (1-based) sleeps
  * `Random(seed + n).nextInt(maxLatencyMs + 1)` ms, then fails EVERY record
  * with ServiceUnavailableException when `(n - 1) % burstEvery < burstLen`,
  * else delegates to an inner [[MockDeliveryService]]. Same
  * serializable-id + static-state pattern as the mock (executor-side
  * copies and the test driver observe one shared state in local[n]). */
final class JitteryDeliveryService(
    seed: Long, maxLatencyMs: Int, burstEvery: Int, burstLen: Int)
  extends DeliveryService {

  val id: String = java.util.UUID.randomUUID().toString
  JitteryDeliveryService.states.putIfAbsent(id, new JitteryDeliveryService.State)
  val inner = new MockDeliveryService()

  private def state: JitteryDeliveryService.State =
    JitteryDeliveryService.states.get(id)

  override def putBatch(streamName: String,
      records: Seq[Array[Byte]]): BatchResult = {
    val st = state
    val n = st.calls.incrementAndGet()
    st.callNanos.add(System.nanoTime())
    val lat = new scala.util.Random(seed + n).nextInt(maxLatencyMs + 1)
    if (lat > 0) { Thread.sleep(lat.toLong); st.sleptMs.addAndGet(lat.toLong) }
    if (burstEvery > 0 && (n - 1) % burstEvery < burstLen)
      BatchResult(records.map(_ =>
        RecordResult(null, "ServiceUnavailableException")))
    else inner.putBatch(streamName, records)
  }

  def callNanos: Seq[Long] =
    { import scala.jdk.CollectionConverters._
      state.callNanos.asScala.map(_.longValue).toSeq }
  def sleptMs: Long = state.sleptMs.get()
}

object JitteryDeliveryService {
  private[graft] final class State {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val callNanos = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val sleptMs = new java.util.concurrent.atomic.AtomicLong(0L)
  }
  private val states =
    new java.util.concurrent.ConcurrentHashMap[String, State]()
}

/** Accept-all service that records, per instance, the most `putBatch`
  * calls in flight at once and the task partitions the calls came from.
  * Each call takes `putMs`, so that calls of concurrent lanes overlap. Same
  * serializable-id + static-state pattern as [[MockDeliveryService]]. */
final class LaneProbeService(putMs: Long) extends DeliveryService {

  val id: String = java.util.UUID.randomUUID().toString
  LaneProbeService.states.putIfAbsent(id, new LaneProbeService.State)

  private def state: LaneProbeService.State = LaneProbeService.states.get(id)

  override def putBatch(streamName: String,
      records: Seq[Array[Byte]]): BatchResult = {
    val st = state
    st.maxInflight.accumulateAndGet(st.inflight.incrementAndGet(), math.max)
    st.partitions.add(TaskContext.getPartitionId())
    st.records.addAndGet(records.size)
    try {
      Thread.sleep(putMs)
      BatchResult(records.map(_ => RecordResult("ok", null)))
    } finally st.inflight.decrementAndGet()
  }

  def maxInflight: Int = state.maxInflight.get()
  def partitions: Set[Int] = state.partitions.asScala.map(_.intValue).toSet
  def records: Long = state.records.get()
}

object LaneProbeService {
  private[graft] final class State {
    val inflight = new AtomicInteger(0)
    val maxInflight = new AtomicInteger(0)
    val partitions = new ConcurrentLinkedQueue[Integer]()
    val records = new AtomicLong(0L)
  }
  private val states = new ConcurrentHashMap[String, State]()
}

/** R3 retry semantics (reference `Firehose.scala:70-105`): only failed
  * records are resubmitted, bounded retries, residual failures reported,
  * thrown errors not retried.
  */
class DeliverySpec extends SparkTestBase {

  private val fastRetry = Some(RetryPolicy(baseDelayMs = 1, maxRetries = 6))

  private def recs(ss: String*): Seq[Array[Byte]] =
    ss.map(_.getBytes(StandardCharsets.UTF_8))

  test("putWithRetry resubmits only the failed records") {
    // every record fails its first attempt, succeeds on resubmission
    val svc = new MockDeliveryService(failEveryNth = 1, failFirstAttempts = 1)
    val batch = recs("a", "b", "c", "d")
    val (delivered, residual, retried) =
      DeliverySink.putWithRetry(svc, "s", batch, fastRetry)
    assert(delivered == 4 && residual == 0 && retried == 4)
    assert(svc.batchSizes == Seq(4, 4)) // first attempt + one full resubmission
    assert(svc.deliveredStrings.sorted == Seq("a", "b", "c", "d"))
    batch.foreach(r => assert(svc.attemptsFor(new String(r)) == 2))
  }

  test("putWithRetry leaves residual failures after exhausting retries") {
    val svc = new MockDeliveryService(alwaysFailMarker = "poison")
    val batch = recs("ok-1", "poison-2", "ok-3", "poison-4")
    val (delivered, residual, retried) =
      DeliverySink.putWithRetry(svc, "s", batch, fastRetry)
    assert(delivered == 2 && residual == 2)
    assert(retried == 2L * 6) // the two poison records resubmitted 6 times
    // resubmissions shrink to only the failed records
    assert(svc.batchSizes == Seq(4, 2, 2, 2, 2, 2, 2))
    assert(svc.deliveredStrings.sorted == Seq("ok-1", "ok-3"))
  }

  test("putWithRetry without a policy does not retry") {
    val svc = new MockDeliveryService(failEveryNth = 1, failFirstAttempts = 1)
    val (delivered, residual, retried) =
      DeliverySink.putWithRetry(svc, "s", recs("a", "b"), None)
    assert(delivered == 0 && residual == 2 && retried == 0)
    assert(svc.batchSizes == Seq(2))
  }

  test("a response with fewer results than records fails fast, unretried") {
    var calls = 0
    val short = new DeliveryService {
      override def putBatch(streamName: String,
          records: Seq[Array[Byte]]): BatchResult = {
        calls += 1
        BatchResult(records.drop(1).map(_ => RecordResult(null, "ServiceUnavailableException")))
      }
    }
    val e = intercept[IllegalStateException] {
      DeliverySink.putWithRetry(short, "s", recs("a", "b", "c"), fastRetry)
    }
    assert(e.getMessage.contains("2 results for 3 records"))
    assert(calls == 1)
  }

  test("thrown service errors are not retried") {
    val svc = new MockDeliveryService(throwMarker = "boom")
    assertThrows[RuntimeException] {
      DeliverySink.putWithRetry(svc, "s", recs("a", "boom", "c"), fastRetry)
    }
    assert(svc.batchSizes == Seq(3)) // single attempt, no retry loop
  }

  test("retry backoff paces resubmissions through a failure burst (r11)") {
    // calls 1-2 fail entirely (burst), call 3 succeeds; policy base 40 ms.
    // The resubmission gaps must respect the exponential backoff schedule:
    // >= delayMs(1) = 40 ms before the 1st retry, >= delayMs(2) = 80 ms
    // before the 2nd — the reference's backoff contract
    // (ProducerSettings.scala:82) under an actual outage window.
    val svc = new JitteryDeliveryService(seed = 7L, maxLatencyMs = 0,
      burstEvery = 1000, burstLen = 2)
    val policy = Some(RetryPolicy(baseDelayMs = 40L, maxRetries = 6))
    val batch = recs("j-1", "j-2", "j-3")
    val (delivered, residual, retried) =
      DeliverySink.putWithRetry(svc, "s", batch, policy)
    assert(delivered == 3 && residual == 0)
    assert(retried == 6L, "both burst calls resubmit the full batch")
    val t = svc.callNanos
    assert(t.length == 3, s"expected 3 calls, saw ${t.length}")
    val g1 = (t(1) - t(0)) / 1e6
    val g2 = (t(2) - t(1)) / 1e6
    // Thread.sleep guarantees at-least semantics; 5 ms granularity slack
    assert(g1 >= 35.0, s"1st retry after $g1 ms, backoff says >= 40")
    assert(g2 >= 75.0, s"2nd retry after $g2 ms, backoff says >= 80")
    assert(svc.inner.deliveredStrings.sorted == Seq("j-1", "j-2", "j-3"))
  }

  test("deliver() under seeded jitter + bursts: all records land, bounded degradation (r11)") {
    import spark.implicits._
    // every 7th call is an outage, every call carries 0-5 ms seeded
    // latency — the flaky-network regime the reference exists for
    val svc = new JitteryDeliveryService(seed = 42L, maxLatencyMs = 5,
      burstEvery = 7, burstLen = 1)
    val settings = DeliverySettings("s", batchSize = 100, parallelism = 4,
      retryPolicy = Some(RetryPolicy(baseDelayMs = 5L, maxRetries = 6)))
    val df = (1 to 2000).map(i => s"jit-$i").toDF("v")
    val t0 = System.nanoTime()
    val stats = DeliverySink.deliver(
      DeliverySink.payloads(df, settings), settings, svc)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    // nothing lost: bursts are transient, retries drain them completely
    assert(stats.records == 2000 && stats.residualFailures == 0)
    assert(stats.retriedRecords > 0, "bursts never hit — scenario is vacuous")
    assert(svc.inner.delivered.size == 2000)
    // degradation bound: the injected latency budget is ~25 x 2.5 ms plus
    // a few 5-10 ms backoffs — throughput must stay above a conservative
    // floor even on a contended box (idle this is < 1 s end to end)
    assert(elapsedSec < 20.0, s"took $elapsedSec s for 2000 records")
    assert(2000.0 / elapsedSec >= 100.0,
      s"throughput ${2000.0 / elapsedSec}/s under jitter below floor")
  }

  test("deliver() chunks a DataFrame into <=batchSize requests across tasks") {
    import spark.implicits._
    val svc = new MockDeliveryService()
    val settings = DeliverySettings("s", batchSize = 100, parallelism = 2,
      retryPolicy = fastRetry)
    val df = (1 to 1050).map(i => s"rec-$i").toDF("v")
    val stats = DeliverySink.deliver(
      DeliverySink.payloads(df, settings), settings, svc)
    assert(stats.records == 1050 && stats.residualFailures == 0)
    assert(svc.batchSizes.forall(_ <= 100))
    assert(svc.batchSizes.sum == 1050)
    assert(stats.batches == svc.batchSizes.size.toLong)
    assert(svc.delivered.size == 1050)
    // framing: every payload ends with the separator
    assert(svc.deliveredStrings.forall(_.endsWith("\n")))
  }

  /** The Spark jobs started by `body` and the shuffle bytes they wrote. A
    * marker job run after `body` closes the count: listener events arrive
    * in order, so once its end is seen, every event of `body` has been
    * counted. */
  private def jobsAndShuffleBytes(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val written = new AtomicLong(0L)
    val markerJob = new AtomicInteger(-1)
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.marker") != null)
          markerJob.set(e.jobId)
        else jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.test.marker", "end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.marker", null)
      assert(markerDone.await(60, TimeUnit.SECONDS), "marker job end never seen")
    } finally sc.removeSparkListener(listener)
    (jobs.get, written.get)
  }

  test("lanes narrow a wider input without a shuffle; puts stay within parallelism") {
    import spark.implicits._
    val svc = new LaneProbeService(putMs = 5L)
    val settings = DeliverySettings("s", batchSize = 20, parallelism = 2,
      retryPolicy = fastRetry)
    val df = spark.sparkContext.parallelize((1 to 400).map(i => s"wide-$i"), 8).toDF("v")
    var stats: DeliverySink.DeliveryStats = null
    val (_, shuffled) = jobsAndShuffleBytes {
      stats = DeliverySink.deliver(DeliverySink.payloads(df, settings), settings, svc)
    }
    assert(stats.records == 400 && svc.records == 400)
    assert(shuffled == 0L, s"lanes wrote $shuffled shuffle bytes")
    assert(svc.maxInflight <= 2, s"${svc.maxInflight} puts in flight for 2 lanes")
    assert(svc.partitions == Set(0, 1))
  }

  test("deliver on an 8-partition input submits exactly one Spark job") {
    import spark.implicits._
    val svc = new MockDeliveryService()
    val settings = DeliverySettings("s", batchSize = 50, parallelism = 4,
      retryPolicy = fastRetry)
    val df = spark.sparkContext.parallelize((1 to 400).map(i => s"job-$i"), 8).toDF("v")
    val payloads = DeliverySink.payloads(df, settings)
    var stats: DeliverySink.DeliveryStats = null
    val (jobs, _) = jobsAndShuffleBytes {
      stats = DeliverySink.deliver(payloads, settings, svc)
    }
    assert(stats.records == 400 && svc.delivered.size == 400)
    assert(jobs == 1, s"deliver ran $jobs Spark jobs")
  }

  test("payloads resolve in the frame's own session, not the active one") {
    val other = spark.newSession()
    SparkSession.setActiveSession(spark)
    val framed = DeliverySink.payloads(other.range(3).toDF("id"), DeliverySettings("x"))
      .collect().map(r => new String(r.getAs[Array[Byte]](0), StandardCharsets.UTF_8)).toSeq
    assert(framed == Seq("{\"id\":0}\n", "{\"id\":1}\n", "{\"id\":2}\n"))
  }

  test("a 1-partition input is still spread over parallelism lanes") {
    import spark.implicits._
    val svc = new LaneProbeService(putMs = 1L)
    val settings = DeliverySettings("s", batchSize = 10, parallelism = 4,
      retryPolicy = fastRetry)
    val df = spark.sparkContext.parallelize((1 to 400).map(i => s"narrow-$i"), 1).toDF("v")
    val stats = DeliverySink.deliver(DeliverySink.payloads(df, settings), settings, svc)
    assert(stats.records == 400 && svc.records == 400)
    assert(svc.partitions == Set(0, 1, 2, 3))
  }

  test("requests close at 4 MiB before the record cap") {
    import spark.implicits._
    val svc = new MockDeliveryService()
    val settings = DeliverySettings("s", batchSize = 500, parallelism = 1,
      retryPolicy = fastRetry)
    val recordBytes = 900 * 1024
    val df = (1 to 12).map(i => Array.fill[Byte](recordBytes)(i.toByte)).toDF("payload")
    val stats = DeliverySink.deliver(df, settings, svc)
    assert(stats.records == 12 && stats.residualFailures == 0)
    assert(svc.delivered.size == 12)
    assert(svc.batchSizes == Seq(4, 4, 4))
    assert(svc.batchSizes.forall(_.toLong * recordBytes <= DeliverySettings.MaxRequestBytes))
    assert(stats.batches == 3)
  }

  test("a record over 1,000 KiB is reported RecordTooLarge and never sent") {
    import spark.implicits._
    val big = Array.fill[Byte](1100 * 1024)('b'.toByte)
    val small = (1 to 3).map(i => s"small-$i".getBytes(StandardCharsets.UTF_8))
    val df = (small :+ big).toDF("payload")
    val settings = DeliverySettings("s", parallelism = 2, retryPolicy = fastRetry)

    val svc = new MockDeliveryService()
    val stats = DeliverySink.deliver(df, settings, svc)
    assert(stats.records == 3 && stats.residualFailures == 1 && stats.retriedRecords == 0)
    assert(svc.batchSizes.sum == 3 && svc.delivered.size == 3)

    val reportSvc = new MockDeliveryService()
    val report = DeliverySink.deliverWithReport(df, settings, reportSvc)
    val rows = report.collect()
    report.unpersist()
    assert(reportSvc.batchSizes.sum == 3)
    val tooLarge = rows.filter(!_.getAs[Boolean]("delivered"))
    assert(tooLarge.map(_.getAs[String]("error")).toSeq == Seq(DeliverySink.RecordTooLarge))
    assert(tooLarge.head.getAs[Int]("payload_len") == big.length)
    // report hashes are lowercase hex SHA-256 of the payload bytes
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(big).map("%02x".format(_)).mkString
    assert(tooLarge.head.getAs[String]("payload_sha") == sha)
  }
}
