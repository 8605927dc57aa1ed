package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The optimizer rule turns a keyless interval theta join (planned as
  * BroadcastNestedLoopJoin) into a banded HASH join with identical
  * results; guarded cases keep their original plan. */
class BandedIntervalJoinRuleSpec extends SparkSpec {

  private def clicks = Tables.events(spark, sf)
    .where(col("event_type") === "click")
    .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
  private def purchases = Tables.events(spark, sf)
    .where(col("event_type") === "purchase")
    .select(col("event_id").as("p_id"), col("ts").as("p_ts"), col("user_id"))

  private def thetaJoin = clicks.join(purchases,
    col("p_ts") > col("click_ts") &&
      col("p_ts") <= col("click_ts") + expr("INTERVAL 3600 SECOND"))

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  // The shared session installs the rule (GraftExtensions); the
  // rule-free baseline excludes it by name while `body` plans.
  private def withoutRule[A](body: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, BandedIntervalJoinRule.ruleName)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.select(col("click_id"), col("p_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("keyless interval join is rewritten from nested-loop to hash join") {
    val before = withoutRule(physical(thetaJoin))
    before should include("BroadcastNestedLoopJoin")

    val df = thetaJoin
    val after = physical(df)
    after should not include "BroadcastNestedLoopJoin"
    (after.contains("BroadcastHashJoin") || after.contains("SortMergeJoin") ||
      after.contains("ShuffledHashJoin")) shouldBe true
    // identical pairs, no band-fanout duplicates
    val viaOperator = rows(graft.operators.RangeJoin.bandedIntervalAfter(
      clicks, purchases, "click_ts", "p_ts", 3600L))
    rows(df) shouldBe viaOperator
    df.count() shouldBe df.distinct().count()
    // and the un-rewritten nested-loop result is not trivially empty
    withoutRule(rows(thetaJoin)) should not be empty
  }

  test("rewritten and original results are identical") {
    val original = withoutRule(rows(thetaJoin))
    val rewritten = rows(thetaJoin)
    rewritten shouldBe original
  }

  test("joins that already have an equi-key are left alone") {
    val keyed = clicks.join(
      purchases.withColumnRenamed("user_id", "u2"),
      col("click_id") % 10 === col("u2") % 10 &&
        col("p_ts") > col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 3600 SECOND"))
    physical(keyed) should not include "_graft_band"
  }

  test("non-inner interval joins are left alone") {
    val left = clicks.join(purchases,
      col("p_ts") > col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 3600 SECOND"),
      "left")
    physical(left) should not include "_graft_band"
  }
}
