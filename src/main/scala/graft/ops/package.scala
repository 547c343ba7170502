package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch operator inventory (SURVEY.md §2B). Each declared query is a
  * `(SparkSession, fixtureDir) => DataFrame`, keyed by its SURVEY §2B id, and
  * (where SQL-expressible) paired with an ANSI-SQL oracle the driver runs in
  * DuckDB over the same parquet fixtures.
  *
  * Hash-match discipline (SURVEY §7.4):
  *   - every oracled query ends in a total ORDER BY with a unique tie-break;
  *   - money-like doubles in the fixtures are exact 2-decimals, so sums are
  *     accumulated exactly as DECIMAL and only surfaced as DOUBLE at the end —
  *     bit-identical on the Spark and DuckDB sides;
  *   - computed integers are cast to BIGINT on both sides (DuckDB's
  *     sum(int)→HUGEINT, length→BIGINT, ceil→DOUBLE quirks);
  *   - timestamps are projected as epoch millis/micros, never as raw
  *     timestamp or stringified-timestamp columns.
  */
package object ops {

  /** A declared engine query over the driver fixtures. */
  type Q = (SparkSession, String) => DataFrame

  /** Fixture table loader. `events.ts` has shipped in three physical forms
    * across fixture generations (ns-precision parquet, raw ns longs from the
    * ScaleProbe replicators, plain µs TIMESTAMP_NTZ since the round-9
    * fixtures), so the loader normalizes BY TYPE to one logical shape — a
    * µs-grained session-TZ TimestampType column (session TZ is UTC on both
    * engines, so the NTZ cast is the identity wall-clock mapping and DuckDB's
    * `epoch_us` floors identically).
    *
    * The resolved relation is memoized per (SparkSession, path, content
    * digest) in [[IndexCache]] — the catalog role a metastore plays on a
    * real cluster. Every `spark.read.parquet` call otherwise re-lists the
    * path and re-parses the footer schema on the driver; across a
    * 140-query suite that pure metadata overhead is paid hundreds of times
    * for the same ten immutable fixtures. The content digest (file name/size/mtime walk, the
    * SourceSinkOps.fixtureKey discipline) keeps a REGENERATED fixture from
    * serving a stale relation into the hash gate.
    */
  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") // set unconditionally: cache hits must not depend
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // on miss order
    IndexCache(s, path, SourceSinkOps.fixtureKey(dir, s"$name.parquet")) {
      val raw = s.read.parquet(path)
      if (name == "events") raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // ns longs (legacy / probes)
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      } else raw
    }
  }

  /** Exact sum surfaced as double: accumulate as DECIMAL(18,scale) (inputs
    * are exact at that scale), cast the exact decimal total to DOUBLE.
    * Oracle mirror: `CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`. */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  def asLong(c: Column): Column = c.cast("long")

  /** unix_millis over parquet TIMESTAMP_NTZ columns (session TZ is UTC on
    * both engines, so NTZ→TZ is the identity wall-clock mapping). */
  def ntzMillis(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** The engine's one exact global rank / running sum without a
    * single-partition window. A plain `row_number().over(Window.orderBy(k))`
    * funnels every record through ONE task — the classic 100 TB
    * scale-killer. Instead: block rows into value-buckets that are a PREFIX
    * of the ascending total `order` (every order column but the last, then
    * the last `div bucketWidth`), sum `weight` over the ROWS frame within
    * each bucket in parallel, take per-bucket offsets as a cumulative sum
    * over the tiny per-bucket summary (rows = #buckets, not #records), and
    * broadcast-join them back. Because the bucket key is monotone in the
    * order, local sum + offset is exactly the global running sum; with the
    * default weight 1 it is the global row_number (ties in `order` number
    * arbitrarily, exactly as the global window leaves them). A bucket holds
    * one value of the leading columns and at most `bucketWidth` values of
    * the last, so with a unique last column (a doc_id tie-break) every sort
    * is ≤ `bucketWidth` rows even when one leading value dominates.
    *
    * `partitionBy` restarts the sum per partition (the offsets window runs
    * per partition). Returns `df`'s columns plus `out` (BIGINT). Order and
    * partition values must be non-null; the last order column is integral.
    *
    * Look-alikes that keep their own shape: `WindowOps.segRanks` needs
    * rank/dense_rank over ties, which a running sum cannot give;
    * `JoinOps.asofMerge` and `AnalyticsOps.lastTouchAttribution` carry a
    * running max/min of a struct, not a sum; `StreamAnalogOps.framedEventsFor`
    * shares one sort between its keep-first flag and the rank (see there).
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column], out: String,
      partitionBy: Seq[String] = Nil, weight: Column = lit(1L),
      bucketWidth: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = order.init :+ call_function("div", order.last, lit(bucketWidth))
    val bNames = bucket.indices.map(i => s"_grn_b$i")
    val keys = (partitionBy ++ bNames).map(col)
    val withB = df.select(col("*") +:
      bucket.zip(bNames).map { case (c, n) => c.as(n) } :+ weight.as("_grn_w"): _*)
    val local = withB.withColumn("_grn_local", sum("_grn_w").over(
      Window.partitionBy(keys: _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = withB.groupBy(keys: _*)
      .agg(sum("_grn_w").as("_grn_tot"))
      .withColumn("_grn_off", coalesce(sum("_grn_tot").over(
        Window.partitionBy(partitionBy.map(col): _*).orderBy(bNames.map(col): _*)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_grn_tot")
    local.join(broadcast(offsets), partitionBy ++ bNames)
      .select(df.columns.map(c => col(s"`$c`")) :+
        (col("_grn_local") + col("_grn_off")).cast("long").as(out): _*)
  }

  /** One module of the declared inventory. */
  trait QueryModule {
    def queries: Seq[(String, Q)]
    def oracle: Seq[(String, String)]
  }
}
