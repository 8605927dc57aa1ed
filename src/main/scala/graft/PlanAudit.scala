package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump the formatted physical plan (tree + pushdown lines) of
  * the named queries — the audit trail behind PLANS.md. Usage:
  * `sbt "runMain graft.PlanAudit <sfDir> <query>..."` (no names = all),
  * in the [[GraftSession]] config at `SPARK_GRAFT_CPUS` cores. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder(GraftSession.cpus, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"@@@ $name")
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      plan.linesIterator.takeWhile(_.nonEmpty).foreach(println)
      plan.linesIterator
        .filter(l => l.contains("PushedFilters") || l.contains("ReadSchema"))
        .foreach(l => println(l.trim.take(160)))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
