package graft
import java.nio.file.{Files, Paths}
import graft.Mains.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json and queries.json, for the driver's DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name1,name2,...]
  *
  * With the optional comma-separated names, only those queries and their
  * oracle_sql.json slice are dumped, so `scripts/check.py` can gate one
  * operator in seconds instead of a full run. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.Verify <sfDir> <outDir> [name1,name2,...]")
    val Array(sfDir, outDir) = args.take(2)
    val queries = SparkEntry.queries
    val names = args.lift(2).fold(queries.keys.toSeq)(
      _.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Mains.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.get("SPARK_GRAFT_DEBUG").contains("1"))
          e.printStackTrace()
      }
    }
    val json = SparkEntry.oracleSql.view.filterKeys(names.toSet)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The dumped inventory, so downstream checks can detect queries that
    // failed to produce output (not just compare what exists).
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      names.sorted.map(jsonString).mkString("[", ",", "]"))
    // Optional mechanical plan audit in the same run (also enforced by
    // PlanAuditSpec in `sbt test`): SPARK_GRAFT_PLAN_AUDIT=1.
    if (sys.env.get("SPARK_GRAFT_PLAN_AUDIT").contains("1")) {
      val violations = PlanAudit.auditAll(spark, sfDir)
      violations.foreach(v => System.err.println(s"[verify] plan-audit: $v"))
      System.err.println(
        s"[verify] plan-audit: ${violations.size} violations")
    }
    spark.stop()
  }
}
