package perfbench

import java.util.concurrent.TimeUnit
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.core.{DeliverySettings, RetryPolicy}
import graft.streaming.DeliverySink

/** Benchmark program: one workload per process, against `local[4]`.
  *
  * Usage: `Main --workload <bulk_local|stream_remote|query_mix> --seed <n>
  * --seconds <s> --trace <0|1> --out <result.json> --work <work dir>
  * --t0-ms <epoch ms the set-up began> [--tables <dir>]`
  *
  * It drives the program only through its public entry points
  * (`DeliverySink.payloads` / `deliver` / `run` with the benchmark's own
  * [[SimulatedFirehose]], and `SparkEntry.queries`), checks every delivery
  * (count, order-independent payload digest, no residual failures) outside
  * the timed region, and writes one JSON object of metrics to `--out`.
  */
object Main {

  val Cores = 4

  final case class Conf(
      workload: String, seed: Long, seconds: Int, traced: Boolean, out: String, work: String,
      t0Ms: Long, tables: String)

  final class Result {
    var attempted = 0L
    var failed = 0L
    var correct = true
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val detail = mutable.LinkedHashMap[String, Double]()

    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def putAll(ms: Seq[(String, Double, String)]): Unit = ms.foreach { case (n, v, u) => put(n, v, u) }
    def fail(records: Long, why: String): Unit = {
      failed += records
      correct = false
      System.err.println(s"[perfbench] check failed: $why")
    }
    /** A warm-up step threw: printed, counted, and the run is not correct. */
    def warmUpError(what: String, e: Throwable): Unit = {
      detail("warmup_errors") = detail.getOrElse("warmup_errors", 0.0) + 1
      System.err.println(s"[perfbench] warm-up $what failed:")
      e.printStackTrace()
      fail(1, s"warm-up $what failed: $e")
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("out"), kv("work"),
      kv.get("t0-ms").fold(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)(_.toLong),
      kv.getOrElse("tables", ""))
    val res = new Result
    // exit explicitly either way: a lingering non-daemon Spark thread must
    // not keep the JVM alive after the result is written
    try {
      conf.workload match {
        case "bulk_local"    => BulkLocal.run(conf, res)
        case "stream_remote" => StreamRemote.run(conf, res)
        case "query_mix"     => QueryMix.run(conf, res)
        case other           => throw new IllegalArgumentException(s"unknown workload $other")
      }
      res.put("mem.peak_rss_mb", Stats.peakRssMb, "MB")
      SparkSession.getActiveSession.foreach(_.stop())
      java.nio.file.Files.writeString(java.nio.file.Paths.get(conf.out), json(res))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  private def json(r: Result): String = {
    val ms = r.metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val ds = r.detail.map { case (k, v) => s""""$k":${num(v)}""" }
    s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{${ms.mkString(",")}},"detail":{${ds.mkString(",")}}}"""
  }

  def session(conf: Conf, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Builds the session and runs `prepare` in it (inputs and untimed
    * warm-up), then records `setup_s`: the time from `conf.t0Ms`, when the
    * set-up began (before the JVM was launched), to ready. */
  def setUp[A](conf: Conf, res: Result)(prepare: SparkSession => A): (SparkSession, A) = {
    val spark = session(conf, Cores)
    val sessionS = (System.currentTimeMillis() - conf.t0Ms) / 1e3
    val product = prepare(spark)
    System.err.println(s"[perfbench] set-up: session after $sessionS s, ready after " +
      s"${(System.currentTimeMillis() - conf.t0Ms) / 1e3} s")
    res.put("setup_s", (System.currentTimeMillis() - conf.t0Ms) / 1e3, "s")
    (spark, product)
  }

  /** Count and wrap-around hash sum of the framed payloads of `df`. */
  def digestOf(payloads: DataFrame): (Long, Long) = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.as[Array[Byte]].map(b => (1L, Records.hashBytes(b)))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** Compares what the endpoint acknowledged with the expected payloads;
    * any shortfall, duplicate or residual failure counts as failed records. */
  def checkDelivery(res: Result, label: String, expected: (Long, Long),
      stats: DeliverySink.DeliveryStats, st: SimulatedFirehose.State): Unit = {
    res.attempted += expected._1
    val acked = st.acked.sum
    val off = math.abs(expected._1 - acked) + stats.residualFailures
    if (off > 0 || stats.records != expected._1 || st.digest.sum != expected._2)
      res.fail(math.max(1L, off),
        s"$label: expected ${expected._1} records, sink reported ${stats.records} " +
          s"(${stats.residualFailures} residual), endpoint acknowledged $acked, " +
          s"digest ${if (st.digest.sum == expected._2) "equal" else "differs"}")
  }

  /** Time to frame `payloads` into Spark's no-op sink (median of 3, ms). */
  def serializeMs(payloads: DataFrame): Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    payloads.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  })

  def payloadBytes(payloads: DataFrame): Long =
    payloads.selectExpr("sum(length(payload))").head().getLong(0)

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)

  def lanes(l: LaneListener, per: Double): Seq[(String, Double, String)] = Seq(
    ("sink.lanes.shuffle_write_bytes", l.shuffleWriteBytes.sum / per, "B"),
    ("sink.lanes.shuffle_write_ms", l.shuffleWriteNs.sum / 1e6 / per, "ms"),
    ("sink.lanes.fetch_wait_ms", l.fetchWaitMs.sum / per, "ms"))
}

/** `bulk_local`: a cached DataFrame of seeded events is framed with
  * `DeliverySink.payloads` and delivered with `DeliverySink.deliver`, over
  * and over, to an instant accept-all endpoint with `parallelism` = cores.
  * Serialize+frame, the lane shuffle and chunking do the work; put and
  * retry do none. */
object BulkLocal {
  import Main._

  val BulkRecords = 100000L
  val Local1Records = 50000L

  def run(conf: Conf, res: Result): Unit = {
    val svc = new SimulatedFirehose(0L, 0, 0L, stampedDue = false)
    val st = svc.state
    val settings = DeliverySettings("perfbench-bulk", parallelism = Cores)

    /** One timed delivery of `src`; checked against `expected` (count,
      * digest), or by count alone before the digest is known. */
    def deliverOnce(src: DataFrame, label: String, expected: Option[(Long, Long)]): Long = {
      st.resetCounts()
      st.bulkDueNs = System.nanoTime()
      val t0 = System.nanoTime()
      val stats = DeliverySink.deliver(DeliverySink.payloads(src, settings), settings, svc)
      val wall = System.nanoTime() - t0
      expected match {
        case Some(e) => checkDelivery(res, label, e, stats, st)
        case None =>
          val n = BulkRecords
          if (stats.records != n || stats.residualFailures != 0 || st.acked.sum != n)
            res.fail(1, s"$label: ${stats.records} of $BulkRecords records delivered")
      }
      wall
    }

    val (spark, src) = setUp(conf, res) { spark =>
      val src = Records.dataset(spark, conf.seed, BulkRecords).toDF().cache()
      src.count()
      try deliverOnce(src, "warm-up", None)
      catch { case e: Throwable => res.warmUpError("delivery", e) }
      src
    }
    val expected = digestOf(DeliverySink.payloads(src, settings))

    val lane = new LaneListener
    if (conf.traced) spark.sparkContext.addSparkListener(lane)
    val plain = mutable.ArrayBuffer[Double]()
    val p50s = mutable.ArrayBuffer[Double]()
    val p99s = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    val spans = mutable.ArrayBuffer[PutSpan]()
    var inflightMax = 0
    var violations = 0L
    val gc0 = Stats.gcMs
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(conf.seconds)
    var rep = 0
    // a traced run alternates untraced and traced deliveries, so their
    // difference (the tracing overhead) sees the same JIT and box state
    while (rep < 4 || System.nanoTime() < deadline) {
      val tracedRep = conf.traced && rep % 2 == 1
      st.traced = tracedRep
      val fromMs = System.currentTimeMillis()
      if (tracedRep) lane.traced.begin(fromMs)
      val hist = new LatencyHistogram
      st.windows = Array(LatencyWindow(Long.MinValue, Long.MaxValue, hist))
      val wall = deliverOnce(src, s"delivery $rep", Some(expected))
      if (tracedRep) {
        lane.traced.end(System.currentTimeMillis() + 1)
        spans ++= st.spans.asScala
        inflightMax = math.max(inflightMax, st.inflightMax.get)
        traced += wall
      } else {
        plain += wall
        p50s += hist.quantileMs(0.5)
        p99s += hist.quantileMs(0.99)
      }
      violations += st.violations.sum
      rep += 1
    }
    st.traced = false
    st.windows = Array.empty
    val gcPerRep = (Stats.gcMs - gc0).toDouble / rep

    res.put("throughput_per_s", BulkRecords / (Stats.median(plain.toSeq) / 1e9), "1/s")
    // per delivery, then the median over deliveries: one stalled delivery
    // would otherwise own the pooled tail
    res.put("latency_ms", Stats.median(p50s.toSeq), "ms")
    res.put("latency_tail_ms", Stats.median(p99s.toSeq), "ms")
    res.detail("deliveries") = rep
    Seq(0.0, 0.25, 0.75, 1.0).foreach(q =>
      res.detail(s"delivery_ms_q${(q * 100).toInt}") = Stats.quantile(plain.toSeq, q) / 1e6)
    res.detail("records_per_delivery") = BulkRecords

    if (conf.traced) {
      lane.quiesce()
      val n = traced.size.toDouble
      val perRep = PutLayer.metrics(spans.toSeq, Cores, traced.sum.toLong)
        .map { case (name, v, u) => (name, if (PutLayer.Additive(name)) v / n else v, u) }
      res.putAll(perRep)
      res.putAll(lanes(lane, n))
      res.put("service.put.inflight_max", inflightMax, "count")
      res.put("service.put.limit_violations", violations, "count")
      res.put("trace.overhead_pct",
        (Stats.median(traced.toSeq) / Stats.median(plain.toSeq) - 1) * 100, "%")
      val payloads = DeliverySink.payloads(src, settings)
      val bytes = payloadBytes(payloads)
      res.put("core.serialize.busy_ms", serializeMs(payloads), "ms")
      res.put("core.serialize.bytes_out", bytes, "B")
      res.put("core.serialize.bytes_per_record", bytes.toDouble / BulkRecords, "B")
      res.put("jvm.gc_ms", gcPerRep, "ms")
      res.put("spark.storage_mem_mb", storageMb(spark), "MB")
      res.put("baseline.local1.records_per_s", local1(conf, spark, settings, svc), "1/s")
    }
  }

  /** Single-core baseline: the same delivery on `local[1]` (median of 3
    * after one warm-up), in records per second. */
  private def local1(conf: Conf, previous: SparkSession, settings: DeliverySettings,
      svc: SimulatedFirehose): Double = {
    previous.stop()
    val spark = session(conf, 1)
    val one = settings.withParallelism(1)
    val src = Records.dataset(spark, conf.seed, Local1Records).toDF().cache()
    src.count()
    val walls = (0 to 3).map { _ =>
      svc.state.resetCounts()
      val t0 = System.nanoTime()
      val stats = DeliverySink.deliver(DeliverySink.payloads(src, one), one, svc)
      val wall = System.nanoTime() - t0
      require(stats.records == Local1Records && svc.state.acked.sum == Local1Records,
        s"local[1] baseline delivered ${stats.records} of $Local1Records")
      wall.toDouble
    }
    Local1Records / (Stats.median(walls.tail) / 1e9)
  }
}

/** `stream_remote`: `DeliverySink.run` (1 s trigger) over a memory
  * source fed open-loop by a generator thread at a fixed rate, delivering
  * to an endpoint that charges 5 ms per request and fails ~10% of records
  * on their first attempt, under a 10 ms-base backoff retry policy.
  * Latency runs from each record's due time to its acknowledgement. */
object StreamRemote {
  import Main._

  val RatePerS = 5000L
  val PeriodNs: Long = 1000000000L / RatePerS
  /** The generator appends each 50 ms of records once its last record is
    * due: the memory source makes one input partition per append, so finer
    * ticks would mostly measure task scheduling of tiny partitions. */
  val TickNs = 50000000L
  val PerTick: Long = RatePerS * TickNs / 1000000000L
  /** A fixed trigger (the time dimension of the reference's `groupWithin`)
    * keeps latency set mostly by the schedule. With trigger 0 every batch
    * starts when the previous one ends, so latency scales with per-batch
    * CPU overhead, and it spread 20% (p50) to 48% (p99) across runs on a
    * 4-vCPU VM whose hypervisor steal varied between runs. */
  val TriggerMs = 1000L
  val WarmBatches = 10L
  val WarmNs = 3000000000L
  val ServiceNs = 5000000L
  val FailPermille = 100
  val Policy = RetryPolicy(baseDelayMs = 10L, maxRetries = 6)
  val TraceSlots = 8

  def run(conf: Conf, res: Result): Unit = {
    val svc = new SimulatedFirehose(ServiceNs, FailPermille, Records.mix(conf.seed), stampedDue = true)
    val st = svc.state
    val settings = DeliverySettings("perfbench-stream", parallelism = Cores,
      triggerIntervalMs = TriggerMs, retryPolicy = Some(Policy))

    val (spark, _) = setUp(conf, res) { spark =>
      // warm the framing, lane and retry paths on records the run never offers
      val warm = Records.dataset(spark, ~conf.seed, 40000L, PeriodNs, bursts = true).toDF()
      st.resetCounts()
      try {
        val stats = DeliverySink.deliver(DeliverySink.payloads(warm, settings), settings, svc)
        if (stats.records != 40000L || stats.residualFailures != 0)
          res.fail(1, s"warm-up: ${stats.records} of 40000 records delivered")
      } catch { case e: Throwable => res.warmUpError("delivery", e) }
    }

    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    st.resetCounts()
    val measureNs = TimeUnit.SECONDS.toNanos(conf.seconds)
    val plainHist = new LatencyHistogram
    val tracedHist = new LatencyHistogram
    val slotHists = Array.fill(TraceSlots)(new LatencyHistogram)
    def epochMs(ns: Long): Long = System.currentTimeMillis() + (ns - System.nanoTime()) / 1000000L
    val lane = new LaneListener
    val batches = new BatchListener
    if (conf.traced) {
      spark.sparkContext.addSparkListener(lane)
      spark.streams.addListener(batches)
    }
    def setTraced(on: Boolean, ns: Long): Unit = if (on != st.traced) {
      st.traced = on
      Seq(lane.traced, batches.traced).foreach(t => if (on) t.begin(epochMs(ns)) else t.end(epochMs(ns)))
    }

    // untimed: JIT-warm the per-micro-batch path (planning, job submission,
    // commit) with many small back-to-back batches of a separate query
    val warmT = System.nanoTime()
    val warmInput = MemoryStream[Event]
    val (warmQuery, warmStats) = DeliverySink.run(warmInput.toDF(),
      settings.withTriggerIntervalMs(0L), svc, s"${conf.work}/checkpoint-warm")
    for (b <- 0L until WarmBatches) {
      warmInput.addData((b * PerTick until (b + 1) * PerTick).map(i => Records.event(~conf.seed, i, 0L)))
      warmQuery.processAllAvailable()
    }
    warmQuery.stop()
    if (warmStats().records != WarmBatches * PerTick || warmStats().residualFailures != 0)
      res.fail(1, s"stream warm-up: ${warmStats().records} of ${WarmBatches * PerTick} records delivered")
    res.detail("stream_warmup_s") = (System.nanoTime() - warmT) / 1e9
    st.resetCounts()

    // built ahead, so that the generator's appends are not late by the time
    // it takes to build a burst
    val ticks = (WarmNs + measureNs) / TickNs
    val appends = Array.tabulate(ticks.toInt) { k =>
      (k * PerTick until (k + 1) * PerTick).map(i => Records.event(conf.seed, i, i * PeriodNs, bursts = true))
    }
    val (query, deliveryStats) = DeliverySink.run(input.toDF(), settings, svc,
      s"${conf.work}/checkpoint-stream")
    val t0 = System.nanoTime() + TickNs
    val from = t0 + WarmNs
    val to = from + measureNs
    val slotNs = measureNs / TraceSlots
    st.baseNs = t0
    st.windows = (0 until TraceSlots).map { j =>
      val a = from + j * slotNs
      LatencyWindow(a, if (j == TraceSlots - 1) to else a + slotNs, slotHists(j))
    }.toArray
    val lags = mutable.ArrayBuffer[Double]()
    val backlog = mutable.ArrayBuffer[(Double, Double)]()
    val gcFrom = new java.util.concurrent.atomic.AtomicLong(-1L)
    // a traced run alternates untraced and traced slots of the measured
    // window, so both halves see the same JIT and box state
    def tracedSlot(ns: Long): Boolean = conf.traced && ns >= from && ns < to && (ns - from) / slotNs % 2 == 1
    val generator = new Thread(() => {
      var k = 0L
      while (k < ticks) {
        val due = t0 + (k + 1) * TickNs - PeriodNs
        var left = due - System.nanoTime()
        while (left > 0) { LockSupport.parkNanos(left); left = due - System.nanoTime() }
        setTraced(tracedSlot(due), due)
        val first = k * PerTick
        input.addData(appends(k.toInt))
        if (due >= from) {
          val now = System.nanoTime()
          gcFrom.compareAndSet(-1L, Stats.gcMs)
          lags += (now - due) / 1e6
          backlog += (((now - from) / 1e9, (first + PerTick - st.acked.sum).toDouble))
        }
        k += 1
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    val generated = ticks * PerTick
    query.processAllAvailable()
    val gcMs = Stats.gcMs - gcFrom.get
    query.stop()
    query.exception.foreach(e => res.fail(1, s"streaming query failed: ${e.getMessage}"))
    setTraced(on = false, System.nanoTime())
    st.windows = Array.empty

    val expected = digestOf(DeliverySink.payloads(
      Records.dataset(spark, conf.seed, generated, PeriodNs, bursts = true).toDF(), settings))
    checkDelivery(res, "stream", expected, deliveryStats(), st)

    val slope = {
      val n = backlog.size.toDouble
      val mx = backlog.map(_._1).sum / n
      val my = backlog.map(_._2).sum / n
      backlog.map { case (x, y) => (x - mx) * (y - my) }.sum / backlog.map(b => (b._1 - mx) * (b._1 - mx)).sum
    }
    // a growing backlog makes latency depend on the run's length: invalid
    res.detail("backlog_slope_per_s") = slope
    if (slope > 0.05 * RatePerS)
      res.fail(1, s"backlog grew by $slope records/s, over 5% of the offered rate")

    // records due in the window over the span from their first to their last
    // acknowledgement: the offered rate while the sink keeps up, less after
    res.put("throughput_per_s",
      st.measuredAcks.sum / ((st.lastAckNs.get - st.firstAckNs.get) / 1e9), "1/s")
    slotHists.zipWithIndex.foreach { case (h, j) =>
      (if (tracedSlot(from + j * slotNs)) tracedHist else plainHist).merge(h)
      res.detail(s"latency_p50_ms_slot$j") = h.quantileMs(0.5)
    }
    res.put("latency_ms", plainHist.quantileMs(0.5), "ms")
    res.put("latency_tail_ms", plainHist.quantileMs(0.99), "ms")
    res.detail("records_offered") = generated
    res.detail("offered_rate_per_s") = RatePerS
    res.detail("latency_samples") = plainHist.count

    if (conf.traced) {
      lane.quiesce()
      res.putAll(PutLayer.metrics(st.spans.asScala.toSeq, Cores, measureNs / 2))
      res.putAll(lanes(lane, 1.0))
      res.putAll(batches.metrics)
      res.put("service.put.inflight_max", st.inflightMax.get, "count")
      res.put("service.put.limit_violations", st.violations.sum, "count")
      res.put("stream.generator_lag_p99_ms", Stats.quantile(lags.toSeq, 0.99), "ms")
      res.put("stream.backlog_slope_per_s", slope, "1/s")
      res.put("trace.overhead_pct", (tracedHist.quantileMs(0.5) / plainHist.quantileMs(0.5) - 1) * 100, "%")
      // framing cost of as many records as the traced half offered
      val tracedRecords = measureNs / 2 / PeriodNs
      val traced = DeliverySink.payloads(
        Records.dataset(spark, conf.seed, tracedRecords, PeriodNs, bursts = true).toDF().cache(), settings)
      val bytes = payloadBytes(traced)
      res.put("core.serialize.busy_ms", serializeMs(traced), "ms")
      res.put("core.serialize.bytes_out", bytes, "B")
      res.put("core.serialize.bytes_per_record", bytes.toDouble / tracedRecords, "B")
      res.put("jvm.gc_ms", gcMs, "ms")
      res.put("spark.storage_mem_mb", storageMb(spark), "MB")
    }
  }
}
