package graft

import org.apache.spark.sql.SparkSession

/** What the program mains (Verify, Bench, Explain, PlanAudit, ScaleProbe,
  * DumpOracles) share: the one local session builder and the one JSON
  * string writer. */
object Mains {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time and no UI, plus any `conf` pairs, logging at `logLevel`. */
  def localSession(cpus: String, logLevel: String,
      conf: (String, String)*): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** `s` as a quoted JSON string. Backslash, quote and ALL control chars
    * (< 0x20) are escaped: a tab or CR in builder-authored SQL would
    * otherwise make a reader's `json.load` fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
