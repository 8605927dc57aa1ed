package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Single-pass integerized covariance sufficient statistics over a vector
  * column — the typed-`Aggregator` replacement for the double-posexplode
  * formulation of [[Similarity.covarianceUpperTriangle]] (2000 × d vectors
  * explode to n·d(d+1)/2 ≈ 4.2M (i,j,xi,xj) rows at d = 64 before the
  * pair-keyed hash aggregate; the aggregator keeps the whole pass in one
  * map-side buffer of 4·d(d+1)/2 longs per partition and shuffles only the
  * 32 partial buffers).
  *
  * Exactness contract (graft.util.Det): every per-row term is rounded to
  * the `scale` grid with the SAME decimal HALF_UP (away-from-zero on the
  * shortest decimal expansion, i.e. java BigDecimal.valueOf semantics)
  * that Spark's `round(x·10^k, 0)` and DuckDB's `ROUND(x·10^k, 0)` apply,
  * then summed exactly in Long — so the result is bit-identical to the
  * exploded formulation and to the SQL oracle, independent of partition
  * count and merge order. A bare floor(v+0.5) would diverge from
  * decimal HALF_UP for doubles one ulp under a half boundary (e.g.
  * 0.49999999999999994 + 0.5 rounds to 1.0 in IEEE), which a covariance
  * product can plausibly hit; [[CovSuffStatsAggregator.fixHalfUp]] guards
  * that boundary.
  *
  * Ragged input is handled exactly like the explode formulation: a row
  * contributes to pair (i,j) iff its vector has length > j, and the
  * per-pair n/sx/sy sums cover exactly the contributing rows. Null rows
  * contribute nothing (posexplode of NULL generates no rows); null
  * ELEMENTS are not supported (none exist in any fixture — the exploded
  * form would null-skip the sum but still count the row).
  *
  * Buffer layout (flat Array[Long], T = d(d+1)/2 upper-triangle pairs in
  * row-major order, idx(i,j) = i·d − i(i−1)/2 + (j−i)):
  * [0]=d | [1, 1+T) = n | [1+T, 1+2T) = sxy | [1+2T, 1+3T) = sx |
  * [1+3T, 1+4T) = sy. The buffer grows (and re-maps indices) when a
  * longer vector or a wider merge partner arrives.
  */
object CovSuffStatsAggregator {
  /** Decimal HALF_UP (away from zero) of a double at scale 0 followed by
    * a long cast, bit-equal to Spark's `round(v, 0).cast("long")` /
    * DuckDB's `CAST(ROUND(v, 0) AS BIGINT)` on every input class:
    *
    *  - |v| < 2^52: fast FP path — floor(v+0.5) (resp. ceil(v−0.5) for
    *    negatives) agrees with decimal HALF_UP everywhere EXCEPT within
    *    an ulp of a half boundary, where the +0.5 addition itself can
    *    round across it (the 0.49999999999999994 + 0.5 == 1.0 puzzler);
    *    within 4 ulps of the boundary (includes exact halves) defer to
    *    BigDecimal.
    *  - |v| ≥ 2^52, NaN, ±Inf: `v.toLong` — v is already integral (ulp
    *    ≥ 1) so round() is identity, and the JVM double→long conversion
    *    has exactly Spark's non-ANSI cast semantics (NaN → 0, saturate
    *    at Long.{Min,Max}Value — NOT BigDecimal.toLong, which wraps
    *    modulo 2^64 and throws on non-finite). */
  private[graft] def fixHalfUp(v: Double): Long = {
    val av = math.abs(v)
    if (av < 4.503599627370496e15) { // 2^52: below this, w and ±0.5 are exact
      val w = if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)
      val boundary = if (v >= 0) w - 0.5 else w + 0.5
      if (math.abs(v - boundary) > 4 * math.ulp(av)) w.toLong
      else BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    } else v.toLong // integral, non-finite, or beyond long range: cast semantics
  }

  /** The double-returning sibling of [[fixHalfUp]]: bit-equal to Spark's
    * `round(v, 0)` on DoubleType, which passes NaN/±Inf through unchanged
    * and is the identity for |v| ≥ 2^52 (already integral). Same
    * ulp-guarded fast path, BigDecimal only within 4 ulps of a half
    * boundary. */
  private[graft] def fixHalfUpDouble(v: Double): Double = {
    val av = math.abs(v)
    if (av < 4.503599627370496e15) {
      val w = if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)
      val boundary = if (v >= 0) w - 0.5 else w + 0.5
      // + 0.0 folds the fast path's −0.0 (e.g. ceil(−0.8)) to +0.0 —
      // BigDecimal rounding never produces a negative zero
      if (math.abs(v - boundary) > 4 * math.ulp(av)) w + 0.0
      else BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
    } else v // integral or non-finite: round(v, 0) is the identity
  }
}

final class CovSuffStatsAggregator(scale: Int)
  extends Aggregator[Seq[Double], Array[Long], Array[Long]] with Serializable {

  private val f = math.pow(10.0, scale.toDouble)

  @inline private def fix(v: Double): Long = CovSuffStatsAggregator.fixHalfUp(v)

  @inline private def tri(d: Int): Int = d * (d + 1) / 2
  @inline private def idx(i: Int, j: Int, d: Int): Int =
    i * d - i * (i - 1) / 2 + (j - i)

  override def zero: Array[Long] = Array(0L)

  /** Grow `buf` to dimension `d1`, re-mapping existing pair sums. */
  private def ensure(buf: Array[Long], d1: Int): Array[Long] = {
    val d0 = buf(0).toInt
    if (d1 <= d0) return buf
    val (t0, t1) = (tri(d0), tri(d1))
    val out = new Array[Long](1 + 4 * t1)
    out(0) = d1.toLong
    var i = 0
    while (i < d0) {
      var j = i
      while (j < d0) {
        val o = idx(i, j, d0)
        val n = idx(i, j, d1)
        out(1 + n) = buf(1 + o)
        out(1 + t1 + n) = buf(1 + t0 + o)
        out(1 + 2 * t1 + n) = buf(1 + 2 * t0 + o)
        out(1 + 3 * t1 + n) = buf(1 + 3 * t0 + o)
        j += 1
      }
      i += 1
    }
    out
  }

  override def reduce(buf0: Array[Long], v: Seq[Double]): Array[Long] = {
    if (v == null) return buf0
    val len = v.length
    if (len == 0) return buf0
    val buf = ensure(buf0, len)
    val d = buf(0).toInt
    val t = tri(d)
    val x = new Array[Double](len)
    val fx = new Array[Long](len)
    var i = 0
    while (i < len) { x(i) = v(i); fx(i) = fix(x(i) * f); i += 1 }
    i = 0
    while (i < len) {
      val xi = x(i)
      val fxi = fx(i)
      var j = i
      while (j < len) {
        val p = idx(i, j, d)
        buf(1 + p) += 1L
        buf(1 + t + p) += fix(xi * x(j) * f)
        buf(1 + 2 * t + p) += fxi
        buf(1 + 3 * t + p) += fx(j)
        j += 1
      }
      i += 1
    }
    buf
  }

  override def merge(a0: Array[Long], b0: Array[Long]): Array[Long] = {
    val d = math.max(a0(0), b0(0)).toInt
    val a = ensure(a0, d)
    val b = ensure(b0, d)
    var i = 1
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
}
