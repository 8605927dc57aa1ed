package graft.gmm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Gaussian density as Column expressions — built-in `exp`/`pow`/`sqrt`
  * functions only, so the whole density stays inside whole-stage codegen
  * (no UDFs, no serialization of closures).
  *
  * Two variants:
  *  - `pdf`: the textbook normal density.
  *  - `refPdf`: the reference implementation's algebraically-deviant
  *    density — see Krosent/ema-bigdata `Main.scala:106-107` where, by
  *    operator precedence, `1 / covariance * Math.sqrt(2 * Math.PI)`
  *    MULTIPLIES by sqrt(2*pi) and `pow(x-mean,2) / 2 * variance`
  *    MULTIPLIES the exponent by the variance.
  *
  * The EM fits do not plan these per iteration: `EM.partitionSums` and
  * `GmmSuffStatsAggregator.reduce` compute the same densities on primitive
  * arrays, bit for bit (EMKernelSpec). These are the SQL forms the
  * fixed-model catalog queries use and those specs compare against.
  */
object Gaussian {
  /** Textbook N(x | mean, variance). Constants folded driver-side. */
  def pdf(x: Column, mean: Double, variance: Double): Column =
    exp(-pow(x - lit(mean), 2) / lit(2.0 * variance)) /
      lit(math.sqrt(2.0 * math.Pi * variance))

  /** Reference arithmetic (Main.scala:106-107), WITHOUT the weight factor:
    * (1/sigma) * sqrt(2*pi) * exp(-((x-mean)^2 / 2) * variance).
    */
  def refPdf(x: Column, mean: Double, variance: Double): Column =
    lit(1.0 / math.sqrt(variance) * math.sqrt(2.0 * math.Pi)) *
      exp(-(pow(x - lit(mean), 2) / lit(2.0)) * lit(variance))

  /** Weighted mixture density sum_k w_k * pdf_k(x) for a model. */
  def mixture(x: Column, m: GmmModel): Column =
    (0 until m.k).map(j => lit(m.weights(j)) * pdf(x, m.means(j), m.variances(j)))
      .reduce(_ + _)
}
