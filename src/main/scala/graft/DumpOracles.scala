package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dumps [[SparkEntry.oracleSql]] as JSON without running any query (no
  * SparkSession). Feeds `scripts/oracle_lint.py`, the mechanical gate that
  * EXPLAINs every declared oracle in DuckDB so an unbindable oracle can
  * never ship again (round-8 verdict item 2).
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/oracle_sql.json"
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Mains.jsonString(k)}: ${Mains.jsonString(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    println(s"[dump-oracles] wrote ${SparkEntry.oracleSql.size} entries to $out")
  }
}
