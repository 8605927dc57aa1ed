package graft.gmm

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.util.Det

/** The per-partition EM kernel against the SQL forms it replaced, its
  * edge semantics, and the job count and layout behaviour of a fit. */
class EMKernelSpec extends SparkSpec {
  import spark.implicits._

  private val model = GmmModel(
    Array(0.5, 0.3, 0.2), Array(20.0, 60.0, 150.0), Array(400.0, 900.0, 2500.0))

  /** The kernel over a whole array. */
  private def sums(xs: Array[Double], m: GmmModel, variant: EM.Variant): Array[Double] =
    EM.partitionSums(xs, 0, xs.length, m, variant)

  private def eventValues(): Array[Double] =
    Tables.events(spark, sf).select(col("value").cast("double"))
      .where(col("value").isNotNull).as[Double].collect()

  /** Each point's contributions in the kernel's layout, as the former
    * SQL aggregate computed them: per component g, g*x, g*x*x, then mix,
    * the log term (NULL for mix <= 0) and whether there is one. */
  private def sqlTerms(weighted: Seq[Column], normalize: Boolean): Seq[Column] = {
    val x = col("x")
    val k = weighted.size
    val mix = weighted.reduce(_ + _)
    val gammas =
      if (normalize) weighted.map(wj => when(mix > 0, wj / mix).otherwise(lit(1.0 / k)))
      else weighted
    val logMix = log(mix)
    val llTerm = when(logMix =!= lit(Double.NegativeInfinity), logMix)
    gammas.flatMap(g => Seq(g, g * x, g * x * x)) ++
      Seq(mix, llTerm, when(llTerm.isNotNull, lit(1.0)))
  }

  /** The SQL aggregate over `df`: the sum of every term. NULL reads as 0.0. */
  private def sqlSums(df: DataFrame, weighted: Seq[Column], normalize: Boolean): Array[Double] = {
    val aggs = sqlTerms(weighted, normalize).map(sum)
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    Array.tabulate(aggs.size)(i => if (row.isNullAt(i)) 0.0 else row.getDouble(i))
  }

  private def textbookWeighted(m: GmmModel): Seq[Column] =
    (0 until m.k).map(j => lit(m.weights(j)) * Gaussian.pdf(col("x"), m.means(j), m.variances(j)))

  test("textbook kernel sums match GmmSuffStatsAggregator within its rounding") {
    val xs = eventValues()
    val got = sums(xs, model, EM.Textbook)
    val agg = new GmmSuffStatsAggregator(model.weights, model.means, model.variances)
    val want = xs.toSeq.toDF("x").as[Double](Encoders.scalaDouble).select(agg.toColumn).head()
    val tol = xs.length * 0.5e-6
    (0 until model.k).foreach { j =>
      got(3 * j) shouldBe want.sumGamma(j) +- tol
      got(3 * j + 1) shouldBe want.sumGammaX(j) +- tol
      got(3 * j + 2) shouldBe want.sumGammaX2(j) +- tol
    }
    got(3 * model.k) shouldBe want.sumMix +- tol
    got(3 * model.k + 1) shouldBe want.loglik +- tol
    got(3 * model.k + 2) shouldBe xs.length.toDouble
  }

  test("refcompat kernel sums match a SQL aggregation over Gaussian.refPdf") {
    // small variances: the reference density multiplies the exponent by
    // the variance, so realistic ones underflow every point
    val m = GmmModel(Array(0.5, 0.3, 0.2), Array(20.0, 60.0, 150.0), Array(0.002, 0.001, 0.0005))
    val xs = eventValues()
    val got = sums(xs, m, EM.RefCompat)
    val weighted = (0 until m.k).map(j =>
      lit(m.weights(j)) * Gaussian.refPdf(col("x"), m.means(j), m.variances(j)))
    val want = sqlSums(xs.toSeq.toDF("x"), weighted, normalize = false)
    got.length shouldBe want.length
    got(3 * m.k + 2) should be > 0.0
    got.zip(want).foreach { case (g, w) => g shouldBe w +- 1e-12 * math.max(w.abs, 1e-300) }
  }

  test("kernel is bit-identical to the generated SQL, point by point") {
    // per point, not summed: a sum would absorb a last-bit difference in
    // one exp or log. Spark orders NaN above every number, so a NaN mix
    // counts as `mix > 0`.
    val rnd = new scala.util.Random(11)
    val xs = Array.fill(2000)(rnd.nextGaussian() * 40.0 + 60.0) ++ Array(1e6, -3e5, Double.NaN)
    val ref = GmmModel(Array(0.5, 0.3, 0.2), Array(20.0, 60.0, 150.0), Array(0.02, 0.01, 0.005))
    for ((variant, m, weighted) <- Seq(
        (EM.Textbook, model, textbookWeighted(model)),
        (EM.RefCompat, ref, (0 until 3).map(j =>
          lit(ref.weights(j)) * Gaussian.refPdf(col("x"), ref.means(j), ref.variances(j)))))) {
      val terms = sqlTerms(weighted, normalize = variant == EM.Textbook)
      val rows = spark.sparkContext.parallelize(xs.toSeq, 1).toDF("x")
        .select(col("x") +: terms: _*).collect()
      rows.foreach { r =>
        val want = Array.tabulate(terms.size)(i => if (r.isNullAt(i + 1)) 0.0 else r.getDouble(i + 1))
        val got = sums(Array(r.getDouble(0)), m, variant)
        withClue(s"$variant x=${r.getDouble(0)}: ${got.toSeq} vs ${want.toSeq}") {
          got.zip(want).forall { case (g, w) => g == w || (g.isNaN && w.isNaN) } shouldBe true
        }
      }
    }
  }

  test("the block kernel is the point-order sum of single-point sums, bit for bit") {
    // ranges that end and start mid-block, over far points (mix
    // underflows: gamma = 1/k, no log term), ±0, and one NaN or ±Inf
    // point; the case above pins each single-point sum to the SQL
    val rnd = new scala.util.Random(17)
    val finite = Array.tabulate(5 + 3 * 512 + 17) { i =>
      if (i % 101 == 7) 1e6 else if (i % 101 == 50) -3e5
      else if (i % 211 == 9) 0.0 else if (i % 211 == 99) -0.0
      else rnd.nextGaussian() * 40.0 + 60.0
    }
    val inputs = finite +: Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .map(v => finite.updated(600, v))
    val ref = GmmModel(Array(0.5, 0.3, 0.2), Array(20.0, 60.0, 150.0), Array(0.02, 0.01, 0.005))
    def bits(a: Array[Double]): Seq[Long] = a.toSeq.map(java.lang.Double.doubleToLongBits)
    for {
      (variant, m) <- Seq((EM.Textbook, model), (EM.RefCompat, ref))
      xs <- inputs
      from <- Seq(0, 5)
      len <- Seq(0, 1, 511, 512, 513, 3 * 512 + 17)
    } withClue(s"$variant, x(600) = ${xs(600)}, from $from, $len points: ") {
      val want = new Array[Double](3 * m.k + 3)
      (from until from + len).foreach { i =>
        val p = EM.partitionSums(xs, i, i + 1, m, variant)
        want.indices.foreach(s => want(s) += p(s))
      }
      bits(EM.partitionSums(xs, from, from + len, m, variant)) shouldBe bits(want)
    }
  }

  test("fixed-point aggregator terms are bit-identical to SQL Det.toFixed, point by point") {
    // the input of the kernel case above: underflowed points get
    // gamma = 1/k and no log term; a NaN mix counts as `mix > 0`, so its
    // gammas are NaN and toFixed gives 0
    val rnd = new scala.util.Random(11)
    val xs = Array.fill(2000)(rnd.nextGaussian() * 40.0 + 60.0) ++ Array(1e6, -3e5, Double.NaN)
    val x = col("x")
    val weighted = textbookWeighted(model)
    val mix = weighted.reduce(_ + _)
    val gammas = weighted.map(wj => when(mix > 0, wj / mix).otherwise(lit(1.0 / model.k)))
    // the aggregator's layout: [A_j.. | B_j.. | C_j.. | D | loglik]
    val terms = (gammas ++ gammas.map(_ * x) ++ gammas.map(_ * x * x) :+ mix)
      .map(Det.toFixed(_, 6)) :+ coalesce(Det.toFixed(log(mix), 6), lit(0L))
    val agg = new GmmSuffStatsAggregator(model.weights, model.means, model.variances)
    val rows = spark.sparkContext.parallelize(xs.toSeq, 1).toDF("x")
      .select(x +: terms: _*).collect()
    rows.length shouldBe xs.length
    rows.foreach { r =>
      val want = Seq.tabulate(terms.size)(i => r.getLong(i + 1))
      val got = agg.reduce(agg.zero, r.getDouble(0)).toSeq
      withClue(s"x=${r.getDouble(0)}: ") { got shouldBe want }
    }
  }

  test("a fixed-point sum past Long range fails the fit and the aggregator") {
    // every point underflows: gamma = 1/3 and each adds x*x/3 * 1e6 ≈
    // 3.3e17 to every C_j; 40 of them pass Long.MaxValue ≈ 9.2e18
    val far = Seq.fill(40)(1e6)
    def arithmetic(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
    arithmetic(intercept[Exception](EM.fitFixedPoint(far.toDF("x"), "x", model, iters = 1))) shouldBe true
    val agg = new GmmSuffStatsAggregator(model.weights, model.means, model.variances)
    arithmetic(intercept[Exception](far.toDS().select(agg.toColumn).head())) shouldBe true
  }

  test("underflowed points get gamma = 1/k and no log term; all underflowed is -inf") {
    val m = GmmModel(Array(0.5, 0.5), Array(0.0, 1.0), Array(1.0, 1.0))
    // exp(-(1e6)^2 / 2) underflows to 0 for both components: mix = 0
    val far = sums(Array(1e6), m, EM.Textbook)
    far.toSeq shouldBe Seq(0.5, 0.5e6, 0.5e12, 0.5, 0.5e6, 0.5e12, 0.0, 0.0, 0.0)
    EM.logLikelihood(far) shouldBe Double.NegativeInfinity

    val mixed = Array(0.0, 1e6, 0.5, -1e6)
    val s = sums(mixed, m, EM.Textbook)
    s(3 * m.k + 2) shouldBe 2.0
    EM.logLikelihood(s) should not be Double.NegativeInfinity
    s.toSeq shouldBe
      sqlSums(spark.sparkContext.parallelize(mixed.toSeq, 1).toDF("x"), textbookWeighted(m),
        normalize = true).toSeq

    // the SQL path's log-likelihood sum is NULL when every point underflows
    val allFar = Array(1e6, -1e6, 2e6)
    val sql = sqlSums(spark.sparkContext.parallelize(allFar.toSeq, 1).toDF("x"),
      textbookWeighted(m), normalize = true)
    sql(3 * m.k + 2) shouldBe 0.0
    EM.logLikelihood(sums(allFar, m, EM.Textbook)) shouldBe Double.NegativeInfinity
    EM.logLikelihood(sums(allFar, m, EM.RefCompat)) shouldBe Double.NegativeInfinity
  }

  test("a component variance of exactly 0 fails the fit") {
    // RefCompat does not floor its variance update, and on constant data
    // it reaches exactly 0: the SQL form's division by it failed under ANSI
    val zeros = Seq.fill(10)(0.0).toDF("x")
    an[ArithmeticException] should be thrownBy EM.fit(zeros, "x", 3, 5, variant = EM.RefCompat)
  }

  test("a fit runs 1 + maxIter jobs") {
    val rnd = new scala.util.Random(3)
    val df = (Seq.fill(500)(rnd.nextGaussian()) ++ Seq.fill(500)(6.0 + rnd.nextGaussian())).toDF("x")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      EM.fit(df, "x", k = 2, maxIter = 5, tol = None, init = EM.SpreadInit).iterations shouldBe 5
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(l)
    jobs.get shouldBe 1 + 5

    jobs.set(0)
    sc.addSparkListener(l)
    try {
      EM.fitFixedPoint(df, "x", GmmModel(Array(0.5, 0.5), Array(0.0, 6.0), Array(1.0, 1.0)), iters = 5)
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(l)
    jobs.get shouldBe 1 + 5
  }

  test("the slices cover every point once, in order, and differ by at most one point") {
    for {
      sizes <- Seq(Array(700, 250, 50), Array(0, 5, 0, 3, 0), Array(1000), Array.empty[Int])
      count <- Seq(1, 3, 4, spark.sparkContext.defaultParallelism, 7, 2000)
    } withClue(s"sizes ${sizes.toSeq}, $count slices: ") {
      val slices = EM.sliceRanges(sizes, count)
      slices.length shouldBe count
      val lengths = slices.map(_.map { case (_, from, until) => until - from }.sum)
      (lengths.max - lengths.min) should be <= 1
      slices.flatten.foreach { case (_, from, until) => from should be < until }
      // the ranges, in slice order, are every partition's points in order
      slices.flatten.toSeq.flatMap { case (p, from, until) => (from until until).map((p, _)) } shouldBe
        sizes.indices.flatMap(p => (0 until sizes(p)).map((p, _)))
    }
  }

  test("every iteration runs one task per core, whatever the scan partitions") {
    // three unequal partitions, fewer than the cores: one task per
    // partition would idle a core and wait on the 700-point one
    val sizes = Seq(700, 250, 50)
    val sc = spark.sparkContext
    val df = sc.parallelize(sizes.indices, sizes.size).flatMap { p =>
      val rnd = new scala.util.Random(p)
      Seq.fill(sizes(p))(if (rnd.nextBoolean()) rnd.nextGaussian() else 6.0 + rnd.nextGaussian())
    }.toDF("x")
    df.rdd.glom().map(_.length).collect().toSeq shouldBe sizes
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = tasks.add(e.stageInfos.map(_.numTasks))
    }
    def taskLayout(fit: => Any): Seq[Seq[Int]] = {
      ListenerBusDrain(sc)
      tasks.clear()
      sc.addSparkListener(l)
      try { fit; ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
      tasks.toArray(Array.empty[Seq[Int]]).toSeq
    }
    val cores = sc.defaultParallelism
    val want = Seq(3) +: Seq.fill(5)(Seq(cores))
    taskLayout(EM.fit(df, "x", k = 2, maxIter = 5, tol = None, init = EM.SpreadInit)) shouldBe want
    taskLayout(EM.fitFixedPoint(df, "x",
      GmmModel(Array(0.5, 0.5), Array(0.0, 6.0), Array(1.0, 1.0)), iters = 5)) shouldBe want
  }

  test("a fit does not depend on the partition count beyond rounding") {
    val ev = Tables.events(spark, sf)
    val a = EM.fit(ev.repartition(1), "value", 3, 10)
    val b = EM.fit(ev.repartition(7), "value", 3, 10)
    def close(x: Double, y: Double): Unit = x shouldBe y +- 1e-9 * math.max(x.abs, y.abs)
    a.iterations shouldBe b.iterations
    close(a.logLikelihood, b.logLikelihood)
    (0 until 3).foreach { j =>
      close(a.model.weights(j), b.model.weights(j))
      close(a.model.means(j), b.model.means(j))
      close(a.model.variances(j), b.model.variances(j))
    }
  }
}
