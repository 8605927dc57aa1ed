package graft.queries

import graft.{QueryDef, Tables}
import graft.gmm.{EM, Gaussian, GmmModel}
import graft.util.Det
import org.apache.spark.sql.functions._

/** EM/GMM capability surface — the reference's entire workload
  * (Krosent/ema-bigdata `Main.scala`), re-expressed Spark-SQL-first over
  * `events.value` (the designated 1-D double column, FIXTURES.md).
  *
  * Oracle-checkable pieces (fixed-parameter density / responsibilities /
  * log-likelihood, dataset moments) carry DuckDB SQL; the iterative fits
  * are golden-tested in ScalaTest instead (SURVEY.md §5).
  */
object GmmQueries {

  /** Fixed 3-component model sized to events.value (range ~[0, 560],
    * mean ~50, var ~2450) for the deterministic fixed-parameter queries. */
  private val M = GmmModel(
    weights = Array(0.5, 0.3, 0.2),
    means = Array(20.0, 60.0, 150.0),
    variances = Array(400.0, 900.0, 2500.0))

  private def pdfSql(mean: Double, variance: Double): String =
    s"EXP(-POW(value - $mean, 2) / ${2.0 * variance}) / ${math.sqrt(2.0 * math.Pi * variance)}"

  private def mixSql: String =
    (0 until M.k).map(j => s"${M.weights(j)} * ${pdfSql(M.means(j), M.variances(j))}")
      .mkString(" + ")

  /** Chained-CTE DuckDB oracle for [[EM.fitFixedPoint]]: one (s_t, p_t)
    * CTE pair per iteration — s_t computes the exact BIGINT sufficient-
    * statistic sums under params p_{t-1}, p_t derives the next parameters
    * with the same IEEE operations in the same order as the Scala driver
    * loop. Every SQL literal is CAST to DOUBLE (DuckDB otherwise folds
    * DECIMAL arithmetic exactly where Spark multiplies binary doubles). */
  private def emFixedOracleSql(init: GmmModel, iters: Int, scale: Int): String = {
    val k = init.k
    val f = "1" + ("0" * scale) + ".0"
    def dbl(v: Double) = s"CAST($v AS DOUBLE)"
    val twoPi = dbl(2.0 * math.Pi)
    val onek = dbl(1.0 / k)
    val p0 = (0 until k).map(j =>
      s"${dbl(init.weights(j))} AS w$j, ${dbl(init.means(j))} AS mu$j, " +
        s"${dbl(init.variances(j))} AS s2$j").mkString(", ")
    // GmmSuffStatsAggregator.reduce's density, same association order
    def pdf(j: Int) =
      s"EXP(-POW(x - mu$j, 2) / (2.0 * s2$j)) / SQRT($twoPi * s2$j)"
    def tofix(e: String) = s"CAST(ROUND(($e) * $f, 0) AS BIGINT)"
    def iterPair(t: Int): String = {
      val prev = s"p${t - 1}"
      val wpCols = (0 until k).map(j => s"w$j * (${pdf(j)}) AS wp$j").mkString(",\n      ")
      val mix = (0 until k).map(j => s"wp$j").mkString(" + ")
      val gCols = (0 until k).map(j =>
        s"CASE WHEN mix > 0 THEN wp$j / mix ELSE $onek END AS g$j").mkString(",\n      ")
      val sumCols = (0 until k).map(j =>
        s"SUM(${tofix(s"g$j")}) AS a$j, SUM(${tofix(s"g$j * x")}) AS b$j, " +
          s"SUM(${tofix(s"g$j * x * x")}) AS c$j").mkString(",\n    ")
      def aD(j: Int) = s"CAST(a$j AS DOUBLE)"
      def bD(j: Int) = s"CAST(b$j AS DOUBLE)"
      def cD(j: Int) = s"CAST(c$j AS DOUBLE)"
      val pCols = (0 until k).map { j =>
        val mu = s"${bD(j)} / ${aD(j)}"
        s"""CASE WHEN a$j > 0 THEN ${aD(j)} / $f / n ELSE w$j END AS w$j,
           |    CASE WHEN a$j > 0 THEN $mu ELSE mu$j END AS mu$j,
           |    CASE WHEN a$j > 0 THEN GREATEST(${cD(j)} / ${aD(j)} - ($mu) * ($mu), ${dbl(1e-9)}) ELSE s2$j END AS s2$j""".stripMargin
      }.mkString(",\n    ")
      s"""s$t AS (
         |  SELECT $sumCols
         |  FROM (
         |    SELECT x, $gCols
         |    FROM (
         |      SELECT x, ${(0 until k).map(j => s"wp$j").mkString(", ")}, ($mix) AS mix
         |      FROM (
         |        SELECT x, $wpCols
         |        FROM pts CROSS JOIN $prev
         |      )
         |    )
         |  )
         |), p$t AS (
         |  SELECT $pCols
         |  FROM s$t CROSS JOIN $prev CROSS JOIN cnt
         |)""".stripMargin
    }
    val chain = (1 to iters).map(iterPair).mkString(",\n")
    val finalSel = (0 until k).map(j =>
      s"SELECT $j AS k, w$j AS weight, mu$j AS mean, s2$j AS variance FROM p$iters")
      .mkString("\nUNION ALL ")
    s"""WITH pts AS (
       |  SELECT CAST(value AS DOUBLE) AS x FROM events WHERE value IS NOT NULL
       |), cnt AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM pts
       |), p0 AS (
       |  SELECT $p0
       |),
       |$chain
       |$finalSel
       |ORDER BY k""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("stats_mean_var",
      (s, d) => Tables.events(s, d).agg(
        count(lit(1)).as("n_rows"),
        Det.fixed(avg(col("value")), 6).as("mean_value"),
        Det.fixed(var_pop(col("value")), 4).as("var_pop_value"),
        Det.fixed(stddev_pop(col("value")), 4).as("stddev_pop_value"),
        Det.fixed(min(col("value")), 2).as("min_value"),
        Det.fixed(max(col("value")), 2).as("max_value")),
      oracle = Some(
        s"""SELECT count(*) AS n_rows,
          |  ${Det.fixedSql("avg(value)", 6)} AS mean_value,
          |  ${Det.fixedSql("var_pop(value)", 4)} AS var_pop_value,
          |  ${Det.fixedSql("stddev_pop(value)", 4)} AS stddev_pop_value,
          |  ${Det.fixedSql("min(value)", 2)} AS min_value,
          |  ${Det.fixedSql("max(value)", 2)} AS max_value
          |FROM events""".stripMargin),
      bench = false),

    QueryDef("gaussian_pdf_fixed",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          Det.fixed(col("value"), 2).as("x"),
          Det.fixed(Gaussian.pdf(col("value"), 50.0, 2500.0), 9).as("pdf"))
        .orderBy(col("event_id")),
      oracle = Some(
        s"""SELECT event_id, ${Det.fixedSql("value", 2)} AS x,
           |  ${Det.fixedSql(s"EXP(-POW(value - 50.0, 2) / 5000.0) / ${math.sqrt(2.0 * math.Pi * 2500.0)}", 9)} AS pdf
           |FROM events ORDER BY event_id""".stripMargin),
      bench = false),

    // Log-likelihood of the fixed mixture, with the reference's -Infinity
    // guard (Main.scala:112). Per-row log values are integerized to 1e-6
    // units BEFORE the sum so the aggregate is exact and order-independent
    // (see graft.util.Det scaladoc).
    QueryDef("loglik_fixed",
      (s, d) => {
        val mix = Gaussian.mixture(col("value"), M)
        val ll = log(mix)
        val guarded = when(ll =!= lit(Double.NegativeInfinity), ll)
        Tables.events(s, d).agg(
          (sum(round(guarded * lit(1e6), 0).cast("long")) / lit(1e6)).as("loglik"),
          count(guarded).as("n_finite"),
          count(lit(1)).as("n_rows"))
      },
      oracle = Some(
        s"""SELECT
           |  CAST(SUM(CAST(ROUND(ll * 1000000.0, 0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS loglik,
           |  COUNT(ll) AS n_finite,
           |  COUNT(*) AS n_rows
           |FROM (
           |  SELECT CASE WHEN isinf(LN($mixSql)) THEN NULL ELSE LN($mixSql) END AS ll
           |  FROM events
           |)""".stripMargin),
      bench = false),

    // Per-point (textbook-normalized) responsibilities under the fixed
    // model — the reference's gamma (Main.scala:123-161) as a derived
    // column instead of a zipped RDD.
    QueryDef("gamma_fixed",
      (s, d) => {
        val x = col("value")
        val wpdf = (0 until M.k).map(j =>
          lit(M.weights(j)) * Gaussian.pdf(x, M.means(j), M.variances(j)))
        val mix = wpdf.reduce(_ + _)
        Tables.events(s, d)
          .where(mix > 0)
          .select(
            (Seq(col("event_id")) ++
              (0 until M.k).map(j => Det.fixed(wpdf(j) / mix, 7).as(s"g$j"))): _*)
          .orderBy(col("event_id"))
      },
      oracle = Some {
        val terms = (0 until M.k).map(j => s"${M.weights(j)} * ${pdfSql(M.means(j), M.variances(j))}")
        val mix = terms.mkString(" + ")
        val cols = (0 until M.k).map(j => s"${Det.fixedSql(s"(${terms(j)}) / ($mix)", 7)} AS g$j").mkString(",\n  ")
        s"""SELECT event_id,
           |  $cols
           |FROM events WHERE ($mix) > 0 ORDER BY event_id""".stripMargin
      },
      bench = false),

    // One sufficient-statistics pass under the fixed model via the typed
    // Aggregator/udaf surface (GmmSuffStatsAggregator) — fixed-point
    // accumulation makes the sums exact + order-independent, so even this
    // custom UDAF is fully DuckDB-oracle-checked.
    QueryDef("em_suffstats_udaf",
      (s, d) => {
        import org.apache.spark.sql.Encoders
        val agg = new graft.gmm.GmmSuffStatsAggregator(M.weights, M.means, M.variances)
        val st = Tables.events(s, d)
          .select(col("value").cast("double").as("x"))
          .as[Double](Encoders.scalaDouble)
          .select(agg.toColumn)
          .head()
        import s.implicits._
        (0 until M.k).map(j => (j, st.sumGamma(j), st.sumGammaX(j),
            st.sumGammaX2(j), st.sumMix, st.loglik))
          .toDF("k", "sum_gamma", "sum_gamma_x", "sum_gamma_x2", "sum_mix", "loglik")
          .orderBy(col("k"))
      },
      oracle = Some {
        // parenthesized pdf: w * (exp/sqrt), the kernel's association order
        val wpTerms = (0 until M.k).map(j =>
          s"${M.weights(j)} * (${pdfSql(M.means(j), M.variances(j))})")
        val wpCols = wpTerms.zipWithIndex.map { case (t, j) => s"$t AS wp$j" }.mkString(",\n    ")
        val mix = (0 until M.k).map(j => s"wp$j").mkString(" + ")
        val gCols = (0 until M.k).map(j =>
          s"CASE WHEN mix > 0 THEN wp$j / mix ELSE ${1.0 / M.k} END AS g$j").mkString(",\n    ")
        def fsum(e: String) = s"CAST(SUM(CAST(ROUND(($e) * 1000000.0, 0) AS BIGINT)) AS DOUBLE) / 1000000.0"
        val aggCols = (0 until M.k).map(j =>
          s"${fsum(s"g$j")} AS a$j, ${fsum(s"g$j * x")} AS b$j, ${fsum(s"g$j * x * x")} AS c$j")
          .mkString(",\n    ")
        val selects = (0 until M.k).map(j =>
          s"SELECT $j AS k, a$j AS sum_gamma, b$j AS sum_gamma_x, c$j AS sum_gamma_x2, d AS sum_mix, ll AS loglik FROM s")
          .mkString("\n|UNION ALL ")
        s"""WITH t AS (
           |  SELECT value AS x,
           |    $wpCols
           |  FROM events
           |), m AS (
           |  SELECT x, wp0, wp1, wp2, ($mix) AS mix FROM t
           |), g AS (
           |  SELECT x, mix,
           |    $gCols
           |  FROM m
           |), s AS (
           |  SELECT
           |    $aggCols,
           |    ${fsum("mix")} AS d,
           |    ${fsum("CASE WHEN isinf(LN(mix)) THEN NULL ELSE LN(mix) END")} AS ll
           |  FROM g
           |)
           |$selects
           |ORDER BY k""".stripMargin
      },
      bench = false),

    // Fixed-point EM: 5 full iterations from the fixed init, sufficient
    // statistics integerized per point each iteration -> the ITERATIVE
    // fit is oracle-exact (chained-CTE oracle, one CTE pair/iteration).
    QueryDef("em_gmm_fixed",
      (s, d) => EM.fitFixedPoint(Tables.events(s, d), "value", M,
          iters = 5, scale = 6)
        .toDF(s),
      oracle = Some(emFixedOracleSql(M, iters = 5, scale = 6)),
      bench = false),

    // Full EM fits — iterative, hence no SQL oracle (driver records a
    // rows-only check); golden + property tests cover them (EMSpec).
    QueryDef("em_gmm",
      (s, d) => {
        val r = EM.fit(Tables.events(s, d), "value", k = 3, maxIter = 10,
          variant = EM.Textbook, init = EM.SpreadInit)
        r.model.toDF(s).select(
          col("k"),
          round(col("weight"), 6).as("weight"),
          round(col("mean"), 6).as("mean"),
          round(col("variance"), 6).as("variance"))
      },
      oracle = None),

    QueryDef("em_gmm_refcompat",
      (s, d) => {
        val r = EM.fit(Tables.events(s, d), "value", k = 3, maxIter = 50,
          variant = EM.RefCompat, init = EM.SpreadInit)
        r.model.toDF(s).select(
          col("k"),
          round(col("weight"), 6).as("weight"),
          round(col("mean"), 6).as("mean"),
          round(col("variance"), 6).as("variance"))
      },
      oracle = None)
  )
}
