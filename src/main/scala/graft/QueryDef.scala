package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine capability: the Spark query, an optional DuckDB oracle
  * (omitted only for non-SQL-expressible ops, e.g. iterative EM), and
  * whether it belongs in the headline benchmark set.
  *
  * A query that is plain SQL over the ten tables is declared once with
  * [[QueryDef.sql]]: its oracle text is its body. Use it when Spark's plan
  * of that text is the DataFrame's plan, or leaner. Keep a DataFrame body
  * when the query calls an engine operator, kernel or rule, when its text
  * does not run in both dialects unchanged, or when the DataFrame is the
  * engineered plan (a cache the text would re-scan, one Expand where the
  * text plans a Union of scans); say why in one line at the query.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    bench: Boolean = true)

object QueryDef {

  /** A query whose body is its oracle text: the text runs in both Spark
    * and DuckDB, over views named after the tables. Plan pins are SQL
    * hint comments (`BROADCAST(t)`, `MERGE(a, b)`), which DuckDB skips. An
    * `ORDER BY … LIMIT` spells out the NULLS clause of each key: Spark
    * sorts NULLs first on ascending keys, DuckDB last. */
  def sql(name: String, text: String, bench: Boolean = true): QueryDef =
    QueryDef(name, SqlText(text), Some(text), bench)

  /** Registers as temp views, through [[Tables]], the tables the text
    * names, then runs the text. Each registration is one SQL execution
    * of its own (a catalog command that runs no job). */
  final case class SqlText(text: String) extends ((SparkSession, String) => DataFrame) {
    private val tables = Tables.all.filter(t => s"(?i)\\b$t\\b".r.findFirstIn(text).isDefined)

    def apply(s: SparkSession, d: String): DataFrame = {
      tables.foreach(t => Tables(s, d, t).createOrReplaceTempView(t))
      s.sql(text)
    }
  }
}
