package graft.gmm

import scala.reflect.ClassTag

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Expectation-Maximization for a 1-D Gaussian mixture.
  *
  * Design point (SURVEY.md §4.3): the reference
  * (Krosent/ema-bigdata `Main.scala:59-92`) runs ~17 Spark jobs per EM
  * iteration — a separate full pass for the gamma denominator, five more
  * per component for the M-step, one for the log-likelihood. Here a fit
  * is 1 + (iterations) jobs:
  *  - Catalyst plans and codegens the projection `cast(x as double)
  *    where x is not null` once. Its rows are copied into one primitive
  *    `Array[Double]` per scan partition, persisted at MEMORY_AND_DISK,
  *    and the job that fills that cache also returns each partition's
  *    (n, mean, M2); the driver merges them with Chan's update.
  *  - The cached column is cut into `defaultParallelism` slices whose
  *    sizes differ by at most one point, so no iteration waits on the
  *    largest scan split while a core idles. A slice is one or more
  *    (array, from, until) ranges of the cached arrays; nothing is copied.
  *  - Each iteration is ONE job over the slices, submitted straight to
  *    `SparkContext.runJob` ([[runIteration]]): a block kernel
  *    ([[partitionSums]]) returns every sufficient statistic
  *    (sum gamma_k, sum gamma_k*x, sum gamma_k*x^2 for every k) plus the
  *    log-likelihood, 3k+3 doubles per range regardless of data size.
  *    No query is planned, nothing is broadcast and nothing is shuffled
  *    per iteration. The driver adds the range results in slice order,
  *    so a fixed partitioning and core count give a deterministic fit.
  *
  * Two semantic variants (SURVEY.md §7.4), sharing the kernel:
  *  - Textbook: per-point-normalized responsibilities, monotone
  *    log-likelihood, |delta|-tolerance or fixed-iteration stop.
  *  - RefCompat: the reference's exact arithmetic — deviant density
  *    (`Main.scala:106-107`), responsibilities normalized by a GLOBAL
  *    dataset-wide denominator (`Main.scala:128-142`), `-Infinity`
  *    log filtering (`Main.scala:112`), and the inverted
  *    `continue while (delta > 80)` stop rule (`Main.scala:89`).
  *    Even the global denominator folds into the same single pass: with
  *    A_k = sum w_k*pdf_k(x), B_k = sum w_k*pdf_k(x)*x,
  *    C_k = sum w_k*pdf_k(x)*x^2 and D = sum mix(x), the reference's
  *    updates are phi_k = A_k/(D*N), mu_k = B_k/A_k,
  *    sigma2_k = (C_k - 2*mu_k*B_k + mu_k^2*A_k)/A_k.
  *
  * Unseeded init (`Main.scala:95`) is NOT replicated — init is either a
  * deterministic moment-spread or an explicitly seeded sample
  * (SURVEY.md §7.4).
  */
object EM {

  sealed trait Variant
  case object Textbook extends Variant
  case object RefCompat extends Variant

  sealed trait Init
  /** Deterministic: mu_j = mean + stddev * spread_j, variance_j = var(X),
    * w_j = 1/K. Scale-free and reproducible across engines/partitionings. */
  case object SpreadInit extends Init
  /** Seeded uniform sample of K datapoints as initial means (the
    * reference's `takeSample`, `Main.scala:94-96`, made deterministic). */
  final case class SampleInit(seed: Long) extends Init

  final case class FitResult(model: GmmModel, logLikelihood: Double, iterations: Int)

  /** Variance floor to keep components from collapsing on duplicated points. */
  private val VarFloor = 1e-9

  def fit(
      df: DataFrame,
      xCol: String,
      k: Int,
      maxIter: Int,
      tol: Option[Double] = None,
      variant: Variant = Textbook,
      init: Init = SpreadInit): FitResult = {

    val data = column(df, xCol)
    withPoints(data) { (slices, m0) =>
      val n = m0.n
      require(n > 0, s"EM.fit: no non-null rows in $xCol")
      val dsVar = math.max(m0.m2 / n, VarFloor)

      val means0: Array[Double] = init match {
        case SpreadInit =>
          // k quantile-ish spread points in [-1.5, 1.5] sigma
          Array.tabulate(k)(j => m0.mean + math.sqrt(dsVar) * (-1.5 + 3.0 * (j + 0.5) / k))
        case SampleInit(seed) =>
          require(n >= k, s"EM.fit: SampleInit needs $k non-null rows in $xCol, found $n")
          // Seeded exact-K sample; deterministic given fixed seed AND input
          // partitioning. K rows only — the sort is a top-K (TakeOrdered),
          // not a full sort, so this scales.
          data.select(col("x")).orderBy(rand(seed)).limit(k)
            .collect().map(_.getDouble(0)).sorted
      }
      val model = GmmModel(Array.fill(k)(1.0 / k), means0, Array.fill(k)(dsVar))
      fitLoop(slices, n, model, maxIter, tol, variant)
    }
  }

  /** The fitted column: `cast(xCol as double)` as `x`, nulls dropped. */
  private def column(df: DataFrame, xCol: String): DataFrame =
    df.select(col(xCol).cast("double").as("x")).where(col("x").isNotNull)

  /** A range of one cached array: its points `from` until `until`. */
  private type Span = (Array[Double], Int, Int)

  /** Runs `body` on `data`'s column, cut into [[Slices]], and on the
    * column's moments. The column is cached as one primitive array per
    * scan partition, persisted at MEMORY_AND_DISK until `body` returns
    * (the reference persists the raw RDD, Main.scala:41). The job that
    * fills the cache also computes each partition's moments (the
    * reference does count/mean/variance as three jobs, Main.scala:61-64),
    * whose counts lay out the slices. */
  private def withPoints[T](data: DataFrame)(body: (RDD[Span], Moments) => T): T = {
    val points = data.queryExecution.toRdd.mapPartitions { rows =>
      val b = new scala.collection.mutable.ArrayBuilder.ofDouble
      rows.foreach(r => b += r.getDouble(0))
      Iterator.single(b.result())
    }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val moments = points.map(Moments.of).collect()
      val parents = points.partitions
      val slices = sliceRanges(moments.map(_.n.toInt), points.sparkContext.defaultParallelism)
        .zipWithIndex.map { case (ranges, s) =>
          new Slice(s, ranges.map { case (p, from, until) => (parents(p), from, until) })
        }
      body(new Slices(points, slices), moments.foldLeft(Moments.Empty)(_ merge _))
    } finally points.unpersist(blocking = true)
  }

  /** Cuts a column of `sizes(p)` points in partition p into `count`
    * slices: slice s holds the points [s*N/count, (s+1)*N/count) of the
    * column in partition order, so slice sizes differ by at most one.
    * Each slice is a list of (partition, from, until) ranges. */
  private[gmm] def sliceRanges(sizes: Array[Int], count: Int): Array[Array[(Int, Int, Int)]] = {
    val total = sizes.map(_.toLong).sum
    var p = 0
    var offset = 0
    Array.tabulate(count) { s =>
      var need = (s + 1) * total / count - s * total / count
      val ranges = Array.newBuilder[(Int, Int, Int)]
      while (need > 0) {
        while (offset == sizes(p)) { p += 1; offset = 0 }
        val take = math.min(need, (sizes(p) - offset).toLong).toInt
        ranges += ((p, offset, offset + take))
        offset += take
        need -= take
      }
      ranges.result()
    }
  }

  /** One slice: ranges over the cached partitions. It holds the parent
    * `Partition`s themselves, since a task cannot call `points.partitions`. */
  private final class Slice(val index: Int, val ranges: Array[(Partition, Int, Int)])
    extends Partition

  /** The cached column as equal slices, one task each, in the stage that
    * reads the cache: no point is copied and no shuffle is added. A slice
    * that spans two partitions reads both cached blocks. That is free in
    * `local[n]`, the engine's only deployment (`graft.GraftSession`); on a
    * cluster it would fetch a block from the executor that cached it. */
  private final class Slices(points: RDD[Array[Double]], slices: Array[Slice])
    extends RDD[Span](points.sparkContext, Seq(new NarrowDependency(points) {
      override def getParents(s: Int): Seq[Int] = slices(s).ranges.map(_._1.index).toSeq
    })) {
    override protected def getPartitions: Array[Partition] = slices.toArray[Partition]
    override def compute(split: Partition, context: TaskContext): Iterator[Span] =
      split.asInstanceOf[Slice].ranges.iterator.map { case (p, from, until) =>
        (firstParent[Array[Double]].iterator(p, context).next(), from, until)
      }
  }

  /** Count, mean and sum of squared deviations of a set of points. */
  private[gmm] final case class Moments(n: Long, mean: Double, m2: Double) {
    /** Chan et al.'s pairwise update. */
    def merge(o: Moments): Moments =
      if (o.n == 0) this
      else if (n == 0) o
      else {
        val nt = n + o.n
        val delta = o.mean - mean
        Moments(nt, mean + delta * o.n / nt, m2 + o.m2 + delta * delta * n * o.n / nt)
      }
  }

  private[gmm] object Moments {
    val Empty: Moments = Moments(0L, 0.0, 0.0)

    /** Welford's one-pass update over one partition. */
    def of(xs: Array[Double]): Moments = {
      var mean = 0.0
      var m2 = 0.0
      var i = 0
      while (i < xs.length) {
        val delta = xs(i) - mean
        mean += delta / (i + 1)
        m2 += delta * (xs(i) - mean)
        i += 1
      }
      Moments(xs.length.toLong, mean, m2)
    }
  }

  private val TwoPi = 2.0 * math.Pi
  private val Sqrt2Pi = math.sqrt(2.0 * math.Pi)

  /** Points per block of [[partitionSums]]. A block's per-component
    * terms and mixtures are (k + 1) * 512 doubles: 16 KB at k = 3, which
    * a core's L1 data cache holds. */
  private val Block = 512

  /** One EM iteration's sums over the points `xs(from until until)`, in
    * the layout [A_j, B_j, C_j for each j] ++ [D, sum log(mix), log terms].
    *
    * The arithmetic gives, bit for bit, what Spark generated for the
    * former per-iteration SQL aggregate: `StrictMath.exp`,
    * `StrictMath.log`, `Math.sqrt`, the same association order, and the
    * per-component constants the SQL path computed from its parameter
    * columns. The square is `d * d`, which is what `StrictMath.pow(d, 2.0)`
    * returns. SQL semantics carried over:
    *  - `log` of a value <= 0 is NULL, which `sum` skips: such a point adds
    *    no log term (a count of 0 terms means a log-likelihood of -inf);
    *  - Textbook gamma_j = w_j*pdf_j/mix only where `mix > 0`, which in
    *    Spark holds for NaN too; elsewhere gamma_j = 1/k;
    *  - RefCompat gamma_j is the un-normalized w_j*pdf_j (the global
    *    denominator D is applied driver-side).
    *
    * The range is walked in blocks of [[Block]] points. Per block, one
    * loop per component fills w_j*pdf_j and adds it into each point's
    * mixture in component order; one loop per component sums g, g*x and
    * g*x*x; one loop sums D; one loop sums the log terms. Every output
    * slot is still one sequential sum over the points in point order, so
    * the layout changes no bit of the result. It keeps `StrictMath.log`,
    * a native call, out of the loops that do the rest of the work.
    */
  private[gmm] def partitionSums(
      xs: Array[Double], from: Int, until: Int, m: GmmModel, variant: Variant): Array[Double] = {
    val k = m.k
    val ref = variant == RefCompat
    val w = m.weights
    val mu = m.means
    val v = m.variances
    val twoVar = v.map(2.0 * _)
    val sqrtNorm = v.map(s2 => Math.sqrt(TwoPi * s2))
    val refCoef = v.map(s2 => 1.0 / Math.sqrt(s2) * Sqrt2Pi)
    val invK = 1.0 / k
    // wp(j * Block + i) = w_j*pdf_j of the block's point i
    val wp = new Array[Double](k * Block)
    val mix = new Array[Double](Block)
    val out = new Array[Double](3 * k + 3)
    var start = from
    while (start < until) {
      val n = math.min(Block, until - start)
      java.util.Arrays.fill(mix, 0, n, 0.0)
      var j = 0
      while (j < k) {
        val base = j * Block
        val wj = w(j)
        val muj = mu(j)
        var i = 0
        if (ref) {
          val coef = refCoef(j)
          val vj = v(j)
          while (i < n) {
            val d = xs(start + i) - muj
            val p = wj * (coef * StrictMath.exp(-(d * d / 2.0) * vj))
            wp(base + i) = p
            mix(i) += p
            i += 1
          }
        } else {
          val tv = twoVar(j)
          val norm = sqrtNorm(j)
          while (i < n) {
            val d = xs(start + i) - muj
            val p = wj * (StrictMath.exp(-(d * d) / tv) / norm)
            wp(base + i) = p
            mix(i) += p
            i += 1
          }
        }
        j += 1
      }
      j = 0
      while (j < k) {
        val base = j * Block
        var a = out(3 * j)
        var b = out(3 * j + 1)
        var c = out(3 * j + 2)
        var i = 0
        while (i < n) {
          val x = xs(start + i)
          val mi = mix(i)
          val g =
            if (ref) wp(base + i)
            else if (mi > 0.0 || mi != mi) wp(base + i) / mi
            else invK
          val gx = g * x
          a += g
          b += gx
          c += gx * x
          i += 1
        }
        out(3 * j) = a
        out(3 * j + 1) = b
        out(3 * j + 2) = c
        j += 1
      }
      var dSum = out(3 * k)
      var i = 0
      while (i < n) { dSum += mix(i); i += 1 }
      out(3 * k) = dSum
      var ll = out(3 * k + 1)
      var terms = out(3 * k + 2)
      i = 0
      while (i < n) {
        val mi = mix(i)
        if (!(mi <= 0.0)) {
          ll += StrictMath.log(mi)
          terms += 1.0
        }
        i += 1
      }
      out(3 * k + 1) = ll
      out(3 * k + 2) = terms
      start += n
    }
    out
  }

  /** Runs ONE job for an EM iteration: [[partitionSums]] per range of
    * each slice, added up in slice order, submitted by [[runIteration]]. */
  private def iterationSums(slices: RDD[Span], m: GmmModel, variant: Variant): Array[Double] = {
    requireNonZeroVariances(m)
    val parts = runIteration(slices) { case (xs, from, until) =>
      partitionSums(xs, from, until, m, variant)
    }
    val total = new Array[Double](3 * m.k + 3)
    parts.foreach { p =>
      var i = 0
      while (i < total.length) { total(i) += p(i); i += 1 }
    }
    total
  }

  /** Runs ONE job over the slices: `f` on every range of every slice, the
    * results in slice order and, within a slice, in range order. The job
    * goes straight to `SparkContext.runJob` on the slices, whose closure
    * captures only `f`; `slices.map(f).collect()` would build and submit
    * a new RDD for every iteration. */
  private def runIteration[U: ClassTag](slices: RDD[Span])(f: Span => U): Array[U] =
    slices.sparkContext.runJob(slices, (ranges: Iterator[Span]) => ranges.map(f).toArray).flatten

  /** The SQL forms divided by the variances; under ANSI a zero divisor
    * failed the query instead of yielding a number. */
  private def requireNonZeroVariances(m: GmmModel): Unit =
    m.variances.foreach(s2 =>
      if (s2 == 0.0) throw new ArithmeticException("EM: a component variance is 0"))

  /** The log-likelihood of iteration sums: -inf when no point added a
    * log term, as the SQL `sum` of no values was NULL. */
  private[gmm] def logLikelihood(sums: Array[Double]): Double =
    if (sums(sums.length - 1) == 0.0) Double.NegativeInfinity else sums(sums.length - 2)

  private def fitLoop(
      slices: RDD[Span], n: Long, init: GmmModel,
      maxIter: Int, tol: Option[Double], variant: Variant): FitResult = {
    var model = init
    var lnpPrev = Double.NaN
    var lnp = Double.NaN
    var iters = 0
    var stop = false

    while (iters < maxIter && !stop) {
      val s = iterationSums(slices, model, variant)
      val k = model.k
      // layout: [A_j, B_j, C_j per j] ++ [D, sum log(mix), log terms]
      val A = Array.tabulate(k)(j => s(3 * j))
      val B = Array.tabulate(k)(j => s(3 * j + 1))
      val C = Array.tabulate(k)(j => s(3 * j + 2))
      val D = s(3 * k)
      val ll = logLikelihood(s)
      lnpPrev = lnp
      lnp = ll

      // Convergence check BEFORE applying this iteration's update mirrors
      // the reference's post-update test (see scaladoc): the model returned
      // is the one whose log-likelihood failed to improve enough.
      val converged = variant match {
        case RefCompat => !lnpPrev.isNaN && !((lnp - lnpPrev) > 80.0)
        case Textbook  => tol.exists(t => !lnpPrev.isNaN && math.abs(lnp - lnpPrev) < t)
      }
      if (converged) { stop = true }
      else {
        val weights = new Array[Double](k)
        val means = new Array[Double](k)
        val vars = new Array[Double](k)
        var j = 0
        while (j < k) {
          val aj = A(j)
          variant match {
            case Textbook =>
              // A_j here is sum of per-point-normalized gamma_j
              weights(j) = aj / n
              means(j) = if (aj > 0) B(j) / aj else model.means(j)
              vars(j) = if (aj > 0) math.max(C(j) / aj - means(j) * means(j), VarFloor)
                        else model.variances(j)
            case RefCompat =>
              // Reference updates (Main.scala:177-210) with the global
              // denominator D: gamma_j(x) = w_j*pdf_j(x)/D.
              weights(j) = if (D != 0) aj / D / n else model.weights(j)
              means(j) = if (aj != 0) B(j) / aj else model.means(j)
              vars(j) = if (aj != 0) (C(j) - 2 * means(j) * B(j) + means(j) * means(j) * aj) / aj
                        else model.variances(j)
          }
          j += 1
        }
        model = GmmModel(weights, means, vars)
        iters += 1
      }
    }
    FitResult(model, lnp, iters)
  }

  /** Fixed-point EM: the same sufficient statistics as [[fit]], but every
    * per-point contribution is integerized to `scale` decimals BEFORE the
    * sum (exact Long accumulation, see [[graft.util.Det]]), and every
    * parameter update is a ratio/product of those exact integers — so the
    * ENTIRE multi-iteration fit is bit-identical across engines and
    * partitionings, which makes the iterative algorithm DuckDB-oracle-
    * hashable (chained-CTE oracle: one pair of CTEs per iteration). Runs a
    * fixed `iters` iterations from explicit `init` parameters (data-
    * derived init would reintroduce order-dependent float moments).
    *
    * It runs on [[fit]]'s cached column and slices in 1 + `iters` jobs:
    * each iteration folds every slice's points through
    * [[GmmSuffStatsAggregator.reduce]] and adds the Long buffers in
    * slice order. A sum that overflows Long fails the fit.
    *
    * The quantization perturbs each gamma by ≤ 5e-7 — far below the
    * statistical noise of the fit — while buying exact reproducibility;
    * the native-double [[fit]] remains the throughput path. */
  def fitFixedPoint(
      df: DataFrame, xCol: String, init: GmmModel,
      iters: Int, scale: Int = 6): GmmModel = {
    val f = math.pow(10.0, scale.toDouble)
    withPoints(column(df, xCol)) { (slices, m0) =>
      val nD = m0.n.toDouble
      var model = init
      var t = 0
      while (t < iters) {
        val s = fixedIterationSums(slices, model, scale)
        val k = model.k
        val weights = new Array[Double](k)
        val means = new Array[Double](k)
        val vars = new Array[Double](k)
        var j = 0
        while (j < k) {
          // the aggregator's layout: [A_0..A_{k-1} | B_0.. | C_0.. | D | loglik]
          val a = s(j)
          val b = s(k + j)
          val c = s(2 * k + j)
          if (a > 0) {
            weights(j) = a.toDouble / f / nD
            means(j) = b.toDouble / a.toDouble
            vars(j) = math.max(
              c.toDouble / a.toDouble - means(j) * means(j), VarFloor)
          } else {
            weights(j) = model.weights(j)
            means(j) = model.means(j)
            vars(j) = model.variances(j)
          }
          j += 1
        }
        model = GmmModel(weights, means, vars)
        t += 1
      }
      model
    }
  }

  /** Runs ONE job for a fixed-point iteration: each range of each slice
    * folded through [[GmmSuffStatsAggregator.reduce]], the buffers merged
    * in slice order. */
  private def fixedIterationSums(slices: RDD[Span], m: GmmModel, scale: Int): Array[Long] = {
    requireNonZeroVariances(m)
    val agg = new GmmSuffStatsAggregator(m.weights, m.means, m.variances, scale)
    runIteration(slices) { case (xs, from, until) =>
      val buf = agg.zero
      var i = from
      while (i < until) { agg.reduce(buf, xs(i)); i += 1 }
      buf
    }.foldLeft(agg.zero)(agg.merge)
  }
}
