package graft

import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint,
  Limit, LocalRelation, LogicalPlan, Project, Sort, SubqueryAlias, Window}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Smoke: every registered query runs on sf0.001, returns a schema and
  * doesn't throw; oracle entries reference only registered names.
  * Each query's OPTIMIZED plan is also gated on the two scale-killer
  * shapes: unpartitioned windows (single-task global sort at any size)
  * and unguarded cartesian joins. A condition-less join passes only if a
  * side is provably ≤ 1 row (scalar-subquery crossJoin via maxRows), a
  * side is an Aggregate / LocalRelation (domain-bounded grid or literal
  * table — centroids, distinct dims), or the author asserted smallness
  * with a join hint; an accidental scan × scan cartesian has none of
  * those. Runtime-warning greps certified the window invariant before;
  * the spec makes both permanent and per-query.
  *
  * A [[QueryDef.sql]] query runs its oracle text in both dialects, so
  * the spec also pins what the text alone must carry: the NULLS clause
  * of each nullable `ORDER BY … LIMIT` key (Spark sorts NULLs first on
  * ascending keys, DuckDB last), and the join hints that replace the
  * DataFrame's `broadcast(...)` and `.hint("merge")`. */
class QueriesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def oneRowish(p: LogicalPlan): Boolean = p.maxRows.exists(_ <= 1L)

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    names.distinct.size shouldBe names.size
  }

  test("oracleSql keys are a subset of queries keys") {
    SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet) shouldBe true
  }

  test("entry returns rows on sf0.001") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  SparkEntry.registry.foreach { q =>
    test(s"query ${q.name} runs on sf0.001 and returns rows") {
      val df = q.fn(spark, sf)
      df.schema.fields.length should be > 0
      val opt = df.queryExecution.optimizedPlan
      val globalWindows = opt.collect {
        case w: Window if w.partitionSpec.isEmpty => w }
      withClue(s"${q.name}: unpartitioned window (single-task at scale): ") {
        globalWindows shouldBe empty
      }
      def boundedSide(p: LogicalPlan): Boolean =
        oneRowish(p) || p.isInstanceOf[Aggregate] || p.isInstanceOf[LocalRelation]
      val cartesians = opt.collect {
        case j @ Join(l, r, _, None, hint)
            if hint == JoinHint.NONE && !boundedSide(l) && !boundedSide(r) => j }
      withClue(s"${q.name}: unguarded condition-less join: ") {
        cartesians shouldBe empty
      }
      df.count() should be > 0L
      spark.catalog.clearCache() // per-query staging caches must not accumulate
    }
  }

  private val sqlDefs = SparkEntry.registry.collect {
    case q @ QueryDef(_, QueryDef.SqlText(text), _, _) => q -> text }

  test("QueryDef.sql queries run their oracle text") {
    sqlDefs.size should be > 30
    sqlDefs.foreach { case (q, text) => q.oracle shouldBe Some(text) }
  }

  /** The sort keys directly under a LIMIT. */
  private def limitedKeys(p: LogicalPlan): Seq[SortOrder] = {
    def sortBelow(p: LogicalPlan): Seq[SortOrder] = p match {
      case s: Sort => s.order
      case Project(_, c) => sortBelow(c)
      case SubqueryAlias(_, c) => sortBelow(c)
      case _ => Nil
    }
    p.collectWithSubqueries { case Limit(_, child) => sortBelow(child) }.flatten
  }

  private val NullsClause = "(?i)\\bNULLS\\s+(FIRST|LAST)\\b".r

  sqlDefs.foreach { case (q, text) =>
    test(s"${q.name}: each nullable ORDER BY key under a LIMIT spells out its NULLS clause") {
      val bare = limitedKeys(q.fn(spark, sf).queryExecution.analyzed)
        .filter(_.child.nullable)
        .map { o =>
          // the key's own text where the parser recorded it, else the whole text
          val item = for (a <- o.origin.startIndex; b <- o.origin.stopIndex)
            yield text.substring(a, b + 1)
          item.getOrElse(text) -> o
        }
        .collect { case (t, o) if NullsClause.findFirstIn(t).isEmpty => o.sql }
      bare shouldBe empty
    }
  }

  test("the SQL join hints hold: MERGE forces a sort-merge join, BROADCAST survives a -1 threshold") {
    def joins(name: String) = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      collect(df.queryExecution.executedPlan) {
        case j: SortMergeJoinExec => "smj"
        case j: BroadcastHashJoinExec => "bhj"
      }
    }
    joins("join_sort_merge_large") should contain("smj")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "-1")
      joins("join_broadcast_dim") should contain("bhj")
      joins("q3_shipping_priority") should contain("bhj")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
