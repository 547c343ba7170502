package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** `query_mix`: a fixed sample of the declared queries (`SparkEntry.queries`)
  * over seeded tables, in a seed-permuted order: one first pass in a fresh
  * session, which pays the memo and index builds, then warm passes for the
  * measured time. Each query's output is collected whole (every column),
  * not counted. After the timed passes the first pass's rows are written to
  * parquet, and `perfbench/oracle.py` compares them with the query's DuckDB
  * oracle (`SparkEntry.oracleSql`) on the same tables.
  */
object QueryMix {
  import Main._

  /** Every 40th key of the sorted inventory, starting with the first: one
    * in 40 keeps a run's cold first pass within its time budget. */
  val Stride = 40
  /** A ROADMAP perf target that the stride does not reach. The other two,
    * `q_graph_ktruss` and `q_graph_labelprop`, would add about 10 s cold
    * and 4 s warm to every run, more than the run's time budget holds. */
  val Extra = Seq("q_llm_doc_lm_score")
  /** A floor, so that the warm figures mean the same in every run: warm
    * times still fall from pass to pass. */
  val MinWarmPasses = 2

  def sample: Seq[String] = {
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val strided = keys.indices.collect { case i if i % Stride == 0 => keys(i) }
    strided ++ Extra.filterNot(strided.contains)
  }

  /** Seeded Fisher-Yates permutation of `names`. */
  def permuted(names: Seq[String], seed: Long): Seq[String] = {
    val a = names.toArray
    var h = Records.mix(seed)
    for (i <- a.indices.reverse) {
      h = Records.mix(h + i)
      val j = java.lang.Math.floorMod(h, (i + 1).toLong).toInt
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Builds and collects one query: its time in ns, its schema and rows. */
  def runOnce(spark: SparkSession, dir: String, name: String): (Long, StructType, Array[Row]) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dir)
    val rows = df.collect()
    (System.nanoTime() - t0, df.schema, rows)
  }

  /** Untimed warm-up: one scan of the largest table. */
  def warmUp(spark: SparkSession, dir: String, res: Result): Unit =
    try spark.read.parquet(s"$dir/lineitem.parquet").collect()
    catch { case e: Throwable => res.warmUpError("scan of lineitem", e) }

  def run(conf: Conf, res: Result): Unit = {
    val dir = conf.tables
    val (spark, _) = setUp(conf, res)(spark => warmUp(spark, dir, res))
    val names = sample
    res.attempted = names.size
    val failed = mutable.LinkedHashSet[String]()
    val trace = new QueryTrace
    if (conf.traced) {
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace)
    }

    val outputs = mutable.Map[String, (StructType, Array[Row])]()

    /** One pass in a seed-permuted order; the time of each query that ran. */
    def pass(k: Int, traced: Boolean): Seq[(String, Double)] =
      permuted(names, conf.seed * 31 + k).flatMap { name =>
        val fromMs = System.currentTimeMillis()
        try {
          val (ns, schema, rows) = runOnce(spark, dir, name)
          if (traced) trace.spans.add(QuerySpan(k, fromMs, System.currentTimeMillis() + 1))
          if (k == 0) outputs(name) = (schema, rows)
          Some(name -> ns / 1e6)
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed in pass $k: $e")
            failed += name
            None
        }
      }

    val t0 = System.nanoTime()
    val first = pass(0, traced = false).toMap
    val firstS = (System.nanoTime() - t0) / 1e9
    // a traced run alternates untraced and traced warm passes, so their
    // difference (the tracing overhead) sees the same JIT and box state
    val plain = mutable.ArrayBuffer[Seq[(String, Double)]]()
    val traced = mutable.ArrayBuffer[Seq[(String, Double)]]()
    val gc0 = Stats.gcMs
    val deadline = System.nanoTime() + conf.seconds * 1000000000L
    var k = 1
    while (k <= MinWarmPasses * (if (conf.traced) 2 else 1) || System.nanoTime() < deadline) {
      val tracedPass = conf.traced && k % 2 == 0
      (if (tracedPass) traced else plain) += pass(k, tracedPass)
      k += 1
    }
    val gcPerPass = (Stats.gcMs - gc0).toDouble / (k - 1)

    // outputs for the oracle check, outside the timed region
    names.filterNot(failed).foreach { name =>
      val (schema, rows) = outputs(name)
      try spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${conf.work}/results/$name")
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed writing its result: $e")
          failed += name
      }
    }
    val oracle = SparkEntry.oracleSql
    writeJson(s"${conf.work}/results/oracle.json",
      names.filterNot(failed).map(n => n -> oracle.getOrElse(n, "")))
    if (failed.nonEmpty) res.fail(failed.size, s"queries failed: ${failed.mkString(", ")}")

    // the sample's queries differ in cost by 20x, so the typical warm time
    // is their geometric mean (a pooled median would sit in the gap between
    // two of them), and the tail is that of the slowest 30% of them (one
    // query alone spread twice as much between runs)
    val warm = plain.flatten.toSeq
    val warmMedian = warm.groupBy(_._1).map { case (n, ts) => n -> Stats.median(ts.map(_._2)) }
    def geoMean(xs: Iterable[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
    res.put("throughput_per_s", names.size / firstS, "1/s")
    res.put("latency_ms", geoMean(warmMedian.values), "ms")
    res.put("latency_tail_ms",
      geoMean(warmMedian.values.toSeq.sorted.takeRight(math.max(1, (warmMedian.size * 3 + 9) / 10))), "ms")
    res.detail("first_pass_s") = firstS
    res.detail("warm_passes") = plain.size
    res.detail("queries") = names.size
    first.foreach { case (n, ms) => res.detail(s"first_ms.$n") = ms }
    warmMedian.foreach { case (n, ms) => res.detail(s"warm_ms.$n") = ms }

    if (conf.traced) {
      trace.quiesce()
      val tracedWarm = traced.flatten.toSeq
      res.putAll(trace.metrics)
      res.put("query.pass_s", firstS, "s")
      res.put("query.warm_p90_ms", Stats.quantile(warm.map(_._2), 0.9), "ms")
      res.put("query.build_ms",
        first.map { case (n, ms) => math.max(0.0, ms - warmMedian.getOrElse(n, ms)) }.sum, "ms")
      warmMedian.groupBy { case (n, _) => family(n) }.foreach { case (f, ms) =>
        res.put(s"query.family.${f}_ms", ms.values.sum, "ms")
      }
      res.put("trace.overhead_pct",
        (Stats.median(tracedWarm.map(_._2)) / Stats.median(warm.map(_._2)) - 1) * 100, "%")
      res.put("jvm.gc_ms", gcPerPass, "ms")
      res.put("spark.storage_mem_mb", storageMb(spark), "MB")
    }
  }

  def family(name: String): String = name.stripPrefix("q_").takeWhile(_ != '_')

  private def writeJson(path: String, kv: Seq[(String, String)]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      kv.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",\n", "}"))
  }
}

/** Wall-clock span (epoch ms) of one traced query run of pass `pass`. */
final case class QuerySpan(pass: Int, fromMs: Long, toMs: Long)

/** Engine work of traced query runs, attributed by time to the
  * [[QuerySpan]] that contains it (queries run one at a time): jobs,
  * stages and task metrics from the listener bus, and the planning phases
  * of every query execution. Registered by the benchmark, never by the
  * program. Figures are per traced pass, summed over its queries. */
final class QueryTrace extends SparkListener with QueryExecutionListener {
  val spans = new ConcurrentLinkedQueue[QuerySpan]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[(Long, Array[Long])]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val events = new java.util.concurrent.atomic.AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { events.incrementAndGet(); jobs.add(e.time) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    e.stageInfo.completionTime.foreach(t => stages.add(t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) tasks.add((e.taskInfo.finishTime, Array(
      m.executorCpuTime / 1000000L, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead)))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = events.incrementAndGet()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  private def planned(qe: QueryExecution): Unit = {
    events.incrementAndGet()
    val phases = qe.tracker.phases
    if (phases.nonEmpty)
      plans.add((phases.values.map(_.startTimeMs).min, phases.values.map(_.durationMs).sum))
  }

  /** Waits until the listener buses have been quiet for 300 ms. */
  def quiesce(): Unit = {
    var seen = -1L
    while (seen != events.get()) { seen = events.get(); Thread.sleep(300) }
  }

  def metrics: Seq[(String, Double, String)] = {
    val ss = spans.asScala.toSeq
    val passes = math.max(1, ss.map(_.pass).distinct.size).toDouble
    def in(ms: Long): Boolean = ss.exists(s => ms >= s.fromMs && ms < s.toMs)
    val ts = tasks.asScala.toSeq.filter(t => in(t._1)).map(_._2)
    def task(i: Int): Double = ts.map(_(i)).sum / passes
    Seq(
      ("query.jobs", jobs.asScala.count(t => in(t)) / passes, "count"),
      ("query.stages", stages.asScala.count(t => in(t)) / passes, "count"),
      ("query.tasks", ts.size / passes, "count"),
      ("query.plan_ms", plans.asScala.toSeq.filter(p => in(p._1)).map(_._2).sum / passes, "ms"),
      ("query.exec_cpu_ms", task(0), "ms"),
      ("query.exec_run_ms", task(1), "ms"),
      ("query.shuffle_bytes", task(2), "B"),
      ("query.spill_bytes", task(3), "B"),
      ("query.scan_bytes", task(4), "B"))
  }
}
