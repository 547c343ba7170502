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

  /** Global row_number without a single-partition window. A plain
    * `row_number().over(Window.orderBy(k))` funnels every record through ONE
    * task — the classic 100 TB scale-killer. Instead: block rows into
    * deterministic value-buckets of the (numeric) order key, rank within each
    * bucket in parallel, compute per-bucket offsets with a cumulative sum
    * over the tiny bucket-count table (rows = #buckets, not #records), and
    * broadcast-join the offsets back. Identical ids to the global window
    * (ties within a bucket rank arbitrarily, exactly as the global window
    * leaves ties arbitrary).
    */
  def globalRowNumber(df: DataFrame, orderCol: String, out: String,
      bucketSize: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withB = df.withColumn("_grn_bucket", expr(s"$orderCol div $bucketSize"))
    val local = withB.withColumn("_grn_local",
      row_number().over(Window.partitionBy("_grn_bucket").orderBy(orderCol)))
    val offsets = withB.groupBy("_grn_bucket")
      .agg(count(lit(1)).as("_grn_cnt"))
      .withColumn("_grn_off", coalesce(
        sum("_grn_cnt").over(Window.orderBy("_grn_bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_grn_bucket", "_grn_off")
    local.join(broadcast(offsets), "_grn_bucket")
      .withColumn(out, (col("_grn_local") + col("_grn_off")).cast("long"))
      .drop("_grn_bucket", "_grn_local")
  }

  /** One module of the declared inventory. */
  trait QueryModule {
    def queries: Seq[(String, Q)]
    def oracle: Seq[(String, String)]
  }
}
