package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CurationQueries, DocQueries, EmbedQueries, EventQueries, GmmQueries, GraphQueries, MultimodalQueries, StreamQueries, TpchQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every engine capability is a [[QueryDef]] contributed by a module
  * registry below; `queries`/`oracleSql` are derived views of it, so a
  * query and its DuckDB oracle are declared in one place and can't drift.
  */
object SparkEntry {

  /** Full capability registry (SURVEY.md §2 inventory + §7.6 extensions). */
  def registry: Seq[QueryDef] =
    GmmQueries.defs ++ TpchQueries.defs ++ EventQueries.defs ++
      DocQueries.defs ++ EmbedQueries.defs ++ MultimodalQueries.defs ++
      CurationQueries.defs ++ GraphQueries.defs ++ StreamQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's whole program — an EM-GMM fit — as one table-valued
    * query. */
  def entry(spark: SparkSession): DataFrame =
    GmmQueries.defs.find(_.name == "em_gmm").get
      .fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Headline benchmark subset (graft.Bench): the queries whose `bench`
    * flag is set. The set is sized so Bench's JSON line fits the driver's
    * 2000-char output tail; past membership history is in BASELINE.md. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    registry.filter(_.bench).map(q => q.name -> q.fn).toMap
}
