package graft.gmm

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import graft.operators.CovSuffStatsAggregator

/** Output of one sufficient-statistics pass under a fixed model. */
final case class GmmSuffStats(
    sumGamma: Array[Double],
    sumGammaX: Array[Double],
    sumGammaX2: Array[Double],
    sumMix: Double,
    loglik: Double)

/** Fixed-point EM sufficient statistics: the per-point routine of
  * [[EM.fitFixedPoint]], and its `Aggregator`/`udaf` form (SURVEY.md §7.5).
  *
  * Each per-point term is rounded half-up to `scale` decimals by
  * [[CovSuffStatsAggregator.fixHalfUp]] (the rounding behind `Det.toFixed`)
  * and added as a Long, failing on overflow as ANSI `sum(bigint)` does.
  * Integer sums are exact and commutative, so the result does not depend
  * on partitioning or merge order (see graft.util.Det).
  *
  * The per-point arithmetic gives, bit for bit, what Spark generates for
  * `Det.toFixed(w_j * Gaussian.pdf(x, mu_j, s2_j) / mix, scale)` and its
  * `* x`, `* x * x` forms (EMKernelSpec pins it): `StrictMath.exp`/`log`,
  * `Math.sqrt`, the same association order, and Spark's `mix > 0`, which
  * holds for NaN. The square is `d * d`, which is what
  * `StrictMath.pow(d, 2.0)` returns. The log term skips a `-Infinity` log
  * (the reference's guard, Main.scala:112).
  */
final class GmmSuffStatsAggregator(
    weights: Array[Double], means: Array[Double], variances: Array[Double],
    scale: Int = 6)
  extends Aggregator[Double, Array[Long], GmmSuffStats] with Serializable {

  private val k = weights.length
  private val f = math.pow(10.0, scale.toDouble)
  private val twoVar = variances.map(2.0 * _)
  private val sqrtNorm = variances.map(v => Math.sqrt(2.0 * math.Pi * v))
  private val invK = 1.0 / k

  @inline private def add(buf: Array[Long], i: Int, v: Double): Unit =
    buf(i) = Math.addExact(buf(i), CovSuffStatsAggregator.fixHalfUp(v))

  // buffer layout: [A_0..A_{k-1} | B_0.. | C_0.. | D | loglik]
  override def zero: Array[Long] = new Array[Long](3 * k + 2)

  override def reduce(buf: Array[Long], x: Double): Array[Long] = {
    val wp = new Array[Double](k)
    var mix = 0.0
    var j = 0
    while (j < k) {
      val d = x - means(j)
      wp(j) = weights(j) * (StrictMath.exp(-(d * d) / twoVar(j)) / sqrtNorm(j))
      mix += wp(j)
      j += 1
    }
    val normalize = mix > 0.0 || mix != mix
    j = 0
    while (j < k) {
      val g = if (normalize) wp(j) / mix else invK
      add(buf, j, g * f)
      add(buf, k + j, g * x * f)
      add(buf, 2 * k + j, g * x * x * f)
      j += 1
    }
    add(buf, 3 * k, mix * f)
    val ll = StrictMath.log(mix)
    if (ll != Double.NegativeInfinity) add(buf, 3 * k + 1, ll * f)
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): GmmSuffStats =
    GmmSuffStats(
      Array.tabulate(k)(j => buf(j) / f),
      Array.tabulate(k)(j => buf(k + j) / f),
      Array.tabulate(k)(j => buf(2 * k + j) / f),
      buf(3 * k) / f,
      buf(3 * k + 1) / f)

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  override def outputEncoder: Encoder[GmmSuffStats] = Encoders.product[GmmSuffStats]
}
