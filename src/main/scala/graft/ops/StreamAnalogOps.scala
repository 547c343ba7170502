package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-equivalent forms of the streaming operator set (SURVEY §2B
  * "Streaming", §7.3): the same DataFrame programs run under `readStream`
  * in graft.streaming; here they run on the bounded `events` fixture so
  * DuckDB can oracle them.
  *
  * Reference semantics being mirrored:
  *   - tumble/slide  ← `groupWithin(batchSize, timeWindow)` time dimension
  *     (reference `firehose.scala:71`);
  *   - dedup         ← retry-induced at-least-once duplicates
  *     (reference `Firehose.scala:70-105`) must collapse downstream;
  *   - delivery report ← the full produce() pipeline: dedup → serialize+frame
  *     (`firehose.scala:58-60`) → ≤500-record batches
  *     (`ProducerSettings.scala:61`) → per-window delivery stats.
  */
object StreamAnalogOps extends QueryModule {

  /** Deduped + framed + batch-assigned events — the shared prefix of the
    * produce() pipeline (dedup → serialize/frame → ≤500-record batches)
    * that q_stream_dedup and q_stream_delivery_report both replay.
    * Memoized per (session, events fixture digest), same rationale as
    * CurationOps.dupClustersFor: a delivery pipeline frames the stream
    * once and every report reads the framed stream.
    *
    * Shape: ONE bucket-partitioned sort computes BOTH the keep-first dedup
    * and the bucketed local rank. Within a bucket (event_id div 4096 — all
    * rows of an event_id share a bucket), sort by (event_id, ts, user_id):
    * a row is the kept first of its event_id iff the previous row in that
    * order has a different event_id, and the running sum of those flags is
    * the local rank among SURVIVORS. Global offsets come from a separate
    * per-bucket distinct-count aggregation — a narrow (bucket, event_id)
    * partial-agg shuffle, not a second full-row sort — cumulated over the
    * tiny #buckets relation and broadcast back.
    *
    * This is ops.globalRowNumber weighted by the keep-first flag, but it
    * does not call it: the helper sums its weight per bucket for the
    * offsets, and this weight exists only after the row-level sort, so
    * its offsets branch would sort every row a second time (4 sorts and
    * 5 shuffles instead of 2 and 4 at sf0.001, SCALING.md 2026-10-19). */
  private[graft] def framedEventsFor(s: SparkSession, dir: String): DataFrame =
    IndexCache(s, "framedEvents", SourceSinkOps.fixtureKey(dir, "events.parquet")) {
      val ev = table(s, dir, "events")
      val w = Window.partitionBy("_fe_bucket").orderBy("event_id", "ts", "user_id")
      val survivors = ev
        .withColumn("_fe_bucket", expr("event_id div 4096"))
        .withColumn("_fe_first",
          when(lag("event_id", 1).over(w).isNull
            || lag("event_id", 1).over(w) =!= col("event_id"), 1L)
            .otherwise(0L))
        .withColumn("_fe_local", sum("_fe_first")
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .where(col("_fe_first") === 1L)
      val offsets = ev
        .select(expr("event_id div 4096").as("_fe_bucket"), col("event_id"))
        .groupBy("_fe_bucket")
        .agg(count_distinct(col("event_id")).as("_fe_cnt"))
        .withColumn("_fe_off", coalesce(
          sum("_fe_cnt").over(Window.orderBy("_fe_bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("_fe_bucket", "_fe_off")
      survivors.join(broadcast(offsets), "_fe_bucket")
        .withColumn("rn", (col("_fe_off") + col("_fe_local")).cast("long"))
        .withColumn("batch_id", expr("CAST((rn - 1) div 500 AS BIGINT)"))
        .withColumn("payload_len",
          length(concat_ws("|",
            col("event_id"), unix_micros(col("ts")), col("user_id"),
            col("event_type"), col("props"))) + 1)
        .select("event_id", "ts", "user_id", "event_type", "value",
          "payload_len", "rn", "batch_id")
        .localCheckpoint(true)
    }

  /** The flagship pipeline (SURVEY §7.2); also SparkEntry.entry. */
  def deliveryReport(s: SparkSession, dir: String): DataFrame =
    framedEventsFor(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_records"),
        asLong(sum(col("payload_len"))).as("payload_bytes"),
        dsum(col("value")).as("sum_value"),
        count_distinct(col("batch_id")).as("n_batches"))
      .select(unix_millis(col("w.start")).as("win_ms"), col("event_type"),
        col("n_records"), col("payload_bytes"), col("sum_value"), col("n_batches"))
      .orderBy("win_ms", "event_type")

  def queries: Seq[(String, Q)] = Seq(
    "q_stream_tumble" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_millis(col("w.start")).as("win_ms"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("win_ms", "event_type")),

    "q_stream_slide" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_millis(col("w.start")).as("win_ms"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("win_ms", "event_type")),

    "q_stream_session" -> ((s: SparkSession, dir: String) =>
      table(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          unix_millis(col("sw.start")).as("sess_start_ms"),
          unix_millis(col("sw.end")).as("sess_end_ms"),
          col("n"), col("sum_value"))
        .orderBy("user_id", "sess_start_ms")),

    // Reads the memoized framed-events index (its survivor set IS the
    // keep-first dedup) — one projection + the presentation sort.
    "q_stream_dedup" -> ((s: SparkSession, dir: String) =>
      framedEventsFor(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"))
        .orderBy("event_id")),

    // Late-arrival share per type (the watermark decision input). NOT a
    // window over partitionBy(event_type): event_type has ~5 distinct
    // values, so that window funnels N/5 of all records through each of 5
    // sort tasks — the low-cardinality-partition scale-killer (round-3
    // verdict). Instead: per-type max(ts) as a partial+final hash aggregate
    // (5 rows), broadcast back, one more hash aggregate. Same result hash.
    "q_stream_late" -> ((s: SparkSession, dir: String) => {
      val events = table(s, dir, "events")
      val maxes = events.groupBy("event_type").agg(max(col("ts")).as("max_ts"))
      events.join(broadcast(maxes), "event_type")
        .withColumn("is_late",
          (col("ts") < col("max_ts") - expr("INTERVAL 10 MINUTES")).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"), asLong(sum(col("is_late"))).as("n_late"))
        .orderBy("event_type")
    }),

    // Stream-stream interval join, batch analog (the q_join_interval shape
    // on the event stream itself): every click joined to the same user's
    // purchases within the following hour. The join key carries an equi
    // TIME BUCKET alongside user_id — each purchase expands into its own
    // hour bucket and the previous one (a purchase ≤1h after a click lies
    // in the click's bucket or the next), then the exact interval predicate
    // filters — so per-key work is bounded by per-(user, hour) density,
    // never a per-user cross product (the SCALING.md pairing rule). The
    // true streaming form is the watermarked stream-stream join exercised
    // in StreamingSpec; this bounded run is what DuckDB can oracle.
    "q_stream_join" -> ((s: SparkSession, dir: String) => {
      val hourUs = 3600000000L
      val ev = table(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("us").as("click_us"),
          expr(s"us div $hourUs").as("bucket"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("us").as("p_us"),
          explode(array(expr(s"us div $hourUs"),
            expr(s"us div $hourUs - 1"))).as("bucket"))
      clicks.join(purchases, Seq("user_id", "bucket"))
        .where(col("p_us") > col("click_us")
          && col("p_us") <= col("click_us") + hourUs)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (col("p_us") - col("click_us")).as("delay_us"))
        .orderBy("user_id", "click_id", "purchase_id")
    }),

    "q_stream_delivery_report" -> ((s: SparkSession, dir: String) =>
      deliveryReport(s, dir))
  )

  def oracle: Seq[(String, String)] = Seq(
    "q_stream_tumble" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS win_ms, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY win_ms, event_type""".stripMargin,

    // An event at ts belongs to the two 1h windows starting on the 30-min
    // grid at trunc30(ts) and trunc30(ts) - 30min (Spark window() semantics).
    "q_stream_slide" ->
      """WITH g AS (
        |  SELECT epoch_ms(time_bucket(INTERVAL '30 minutes', ts)) AS win_ms,
        |         event_type, value FROM events
        |  UNION ALL
        |  SELECT epoch_ms(time_bucket(INTERVAL '30 minutes', ts)) - 1800000 AS win_ms,
        |         event_type, value FROM events)
        |SELECT win_ms, event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY 1, 2 ORDER BY win_ms, event_type""".stripMargin,

    // Gaps-and-islands equivalent of session_window: break when the gap to
    // the previous event is >= 30 min (Spark merges only strictly-inside).
    "q_stream_session" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM t)
        |SELECT user_id,
        |       epoch_ms(min(ts)) AS sess_start_ms,
        |       epoch_ms(max(ts) + INTERVAL 30 MINUTE) AS sess_end_ms,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start_ms""".stripMargin,

    "q_stream_dedup" ->
      """WITH r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_id
        |                               ORDER BY ts, user_id) AS dup_rn
        |  FROM events)
        |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
        |FROM r WHERE dup_rn = 1 ORDER BY event_id""".stripMargin,

    "q_stream_late" ->
      """WITH m AS (
        |  SELECT event_type, ts,
        |         max(ts) OVER (PARTITION BY event_type) AS max_ts
        |  FROM events)
        |SELECT event_type, count(*) AS n_total,
        |       CAST(sum(CASE WHEN ts < max_ts - INTERVAL 10 MINUTE
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stream_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |c AS (SELECT user_id, event_id AS click_id, us AS click_us
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, us AS p_us
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, purchase_id, p_us - click_us AS delay_us
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p_us > click_us AND p_us <= click_us + 3600000000
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,

    "q_stream_delivery_report" ->
      """WITH d AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_id
        |                                 ORDER BY ts, user_id) AS dup_rn
        |    FROM events) WHERE dup_rn = 1),
        |f AS (
        |  SELECT *,
        |         length(concat_ws('|', event_id, epoch_us(ts), user_id,
        |                          event_type, props)) + 1 AS payload_len,
        |         row_number() OVER (ORDER BY event_id) AS rn
        |  FROM d),
        |b AS (SELECT *, CAST((rn - 1) // 500 AS BIGINT) AS batch_id FROM f)
        |SELECT epoch_ms(date_trunc('hour', ts)) AS win_ms, event_type,
        |       count(*) AS n_records,
        |       CAST(sum(payload_len) AS BIGINT) AS payload_bytes,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |       count(DISTINCT batch_id) AS n_batches
        |FROM b GROUP BY 1, 2 ORDER BY win_ms, event_type""".stripMargin
  )
}
