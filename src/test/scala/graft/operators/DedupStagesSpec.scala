package graft.operators

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** The Keys → Candidates → Verify pipeline's scale contracts: the verify
  * lookups follow the planner's size rule (no forced broadcast, so the
  * shuffle path runs and matches when broadcasting is off), and an
  * ensemble caches its exploded key table once. */
class DedupStagesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  // sf0.01: the smoke fixture has no Jaccard >= 0.5 near-dups
  private def docs = Tables.documents(spark, sf01)

  /** The verify lookups of a finished query's final (AQE) plan that were
    * broadcast: joins whose build side carries a doc's key array. */
  private def broadcastLookups(df: DataFrame): Seq[String] =
    collect(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec =>
        (if (j.buildSide == BuildLeft) j.left else j.right).output.map(_.name)
    }.flatten.filter(_.startsWith("ska_")).sorted

  private def allBroadcasts(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.length

  private def rowsOf(df: DataFrame) = df.collect().map(_.toSeq).toSet

  Seq[(String, () => DataFrame)](
    "dedup_containment's operator" -> (() => Dedup.containmentPairsPrefix(
      Dedup.keys(docs, "doc_id", "text", 3),
      threshold = 0.5, maxShingleDf = 100)),
    "nearDuplicatePairsMd5" -> (() => Dedup.nearDuplicatePairsMd5(
      docs, "doc_id", "text", threshold = 0.5))
  ).foreach { case (name, build) =>
    test(s"$name: verify lookups broadcast by size, shuffle with " +
        "broadcasting off, same rows") {
      spark.catalog.clearCache()
      val byDefault = build()
      val expected = rowsOf(byDefault)
      expected should not be empty
      broadcastLookups(byDefault) shouldBe Seq("ska_a", "ska_b")
      spark.catalog.clearCache()
      val saved = spark.conf.getOption(threshold)
      spark.conf.set(threshold, "-1")
      try {
        // built under the conf: cached stages are planned at persist time
        val shuffled = build()
        rowsOf(shuffled) shouldBe expected
        allBroadcasts(shuffled) shouldBe 0
      } finally {
        saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
        spark.catalog.clearCache()
      }
    }
  }

  /** A cached exploded key table: its plan, below any projections (a
    * rename included), is the shingle explode. */
  private def isKeyTable(plan: LogicalPlan): Boolean = plan match {
    case p: Project => isKeyTable(p.child)
    case _: Generate => true
    case _ => false
  }

  test("dedup_multi_signal caches its exploded key table once") {
    spark.catalog.clearCache()
    try {
      SparkEntry.queries("dedup_multi_signal")(spark, sf).collect()
      val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      val field = cm.getClass.getDeclaredField("cachedData")
      field.setAccessible(true)
      val entries = field.get(cm).asInstanceOf[IndexedSeq[CachedData]]
      entries should not be empty
      entries.count(e => isKeyTable(e.plan)) shouldBe 1
    } finally spark.catalog.clearCache()
  }
}
