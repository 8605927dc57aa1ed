package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Determinism helpers for oracle-hashed query outputs.
  *
  * Floating-point SUMs are order-dependent; Spark's merge order of partial
  * aggregates is not guaranteed to match DuckDB's (or even itself across
  * runs). For columns that are conceptually fixed-point (prices with 2
  * decimals, metric values), we convert per-row to integer units — a
  * deterministic IEEE multiply+round — then sum exactly in BIGINT, and
  * present the result as a double. Both engines produce bit-identical
  * output regardless of partitioning.
  *
  * The same trick integerizes per-row transcendental outputs (log/exp differ
  * by ≤1 ulp across libm implementations): round to a fixed number of
  * decimals first, then the exact integer sum is engine-independent.
  *
  * ONLY scale-0 rounding (after an explicit multiply) is cross-engine-safe.
  * `round(x, k)` for k>0 diverges at half boundaries: Spark rounds the
  * exact decimal expansion of the double (BigDecimal HALF_UP), DuckDB
  * rounds in float arithmetic — e.g. round(17.3269115, 6) gives .326911
  * vs .326912. Hence these helpers always compute `round(x * 10^k, 0)`.
  * Corollaries: never pre-round per-row values at scale k before summing,
  * and never round a final ratio — a ratio of two fixed-point-exact sums
  * is already bit-identical (pure IEEE division of equal inputs).
  */
object Det {
  /** Cross-engine-safe presentation rounding to `scale` decimals:
    * multiply, round at scale 0 (both engines round the double half away
    * from zero), divide. Use instead of `round(c, scale)` anywhere the
    * value feeds the oracle hash. */
  def fixed(c: Column, scale: Int): Column = {
    val f = math.pow(10.0, scale.toDouble)
    // kernel form of round(c * f, 0) / f — bit-equal on every input class
    // (CovAggregatorSpec), without Round's per-row BigDecimal
    graft.functions.VectorExpressions.fixedRound((c * lit(f)).cast("double")) / lit(f)
  }

  /** The DuckDB SQL text matching [[fixed]]. */
  def fixedSql(expr: String, scale: Int): String = {
    val f = "1" + ("0" * scale)
    s"(ROUND(($expr) * $f, 0) / $f)"
  }

  /** Per-row integerization to `scale` decimals (BIGINT units) — the
    * building block of [[fixedSum]], exposed for conditional aggregates
    * (e.g. a CASE over the integerized value summed exactly, then a
    * ratio of two such sums, which is pure IEEE division of equal
    * inputs and hence bit-identical cross-engine). */
  def toFixed(c: Column, scale: Int): Column = {
    val f = math.pow(10.0, scale.toDouble)
    // kernel form of round(c * f, 0).cast("long") — bit-equal on every
    // input class (CovAggregatorSpec), without Round's per-row BigDecimal
    graft.functions.VectorExpressions.fixedLong((c * lit(f)).cast("double"))
  }

  /** The DuckDB SQL text matching [[toFixed]]. */
  def toFixedSql(expr: String, scale: Int): String = {
    val f = "1" + ("0" * scale)
    s"CAST(ROUND(($expr) * $f, 0) AS BIGINT)"
  }

  /** [[toFixed]] widened to DECIMAL(38,0): the long cast silently clamps
    * at ±9.2e18, which per-row statistic terms (n·σ²-sized) can exceed
    * at the 100 TB design point. Decimal sums stay exact to ~1e38 —
    * the same headroom DuckDB's HUGEINT gives the oracle side. */
  def toFixedWide(c: Column, scale: Int): Column = {
    val f = math.pow(10.0, scale.toDouble)
    round(c * lit(f), 0).cast("decimal(38,0)")
  }

  /** Exact sum of `c` interpreted as fixed-point with `scale` decimals.
    * SQL equivalent: CAST(SUM(CAST(ROUND(c * 10^scale, 0) AS BIGINT)) AS DOUBLE) / 10^scale
    */
  def fixedSum(c: Column, scale: Int): Column = {
    val f = math.pow(10.0, scale.toDouble)
    sum(round(c * lit(f), 0).cast("long")) / lit(f)
  }

  /** Exact mean via fixedSum / count. */
  def fixedAvg(c: Column, scale: Int): Column = {
    val f = math.pow(10.0, scale.toDouble)
    sum(round(c * lit(f), 0).cast("long")) / (count(c) * lit(f))
  }

  /** The DuckDB SQL text matching fixedSum. */
  def fixedSumSql(expr: String, scale: Int): String = {
    val f = "1" + ("0" * scale)
    s"CAST(SUM(CAST(ROUND(($expr) * $f, 0) AS BIGINT)) AS DOUBLE) / $f"
  }

  /** The DuckDB SQL text matching fixedAvg. */
  def fixedAvgSql(expr: String, scale: Int): String = {
    val f = "1" + ("0" * scale)
    s"CAST(SUM(CAST(ROUND(($expr) * $f, 0) AS BIGINT)) AS DOUBLE) / (COUNT($expr) * $f)"
  }
}
