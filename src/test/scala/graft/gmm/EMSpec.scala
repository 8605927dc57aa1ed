package graft.gmm

import graft.{SparkSpec, Tables}

class EMSpec extends SparkSpec {
  import spark.implicits._

  test("textbook EM recovers a known 2-component mixture") {
    val rnd = new scala.util.Random(42)
    // 2000 points from N(0,1), 2000 from N(10,4)
    val xs = Seq.fill(2000)(rnd.nextGaussian()) ++
      Seq.fill(2000)(10.0 + 2.0 * rnd.nextGaussian())
    val df = xs.toDF("x")
    val r = EM.fit(df, "x", k = 2, maxIter = 30, variant = EM.Textbook)
    val m = r.model
    val order = m.means.zipWithIndex.sortBy(_._1).map(_._2)
    val means = order.map(m.means)
    val vars = order.map(m.variances)
    val ws = order.map(m.weights)
    means(0) shouldBe 0.0 +- 0.3
    means(1) shouldBe 10.0 +- 0.5
    vars(0) shouldBe 1.0 +- 0.4
    vars(1) shouldBe 4.0 +- 1.2
    ws(0) shouldBe 0.5 +- 0.05
    ws(1) shouldBe 0.5 +- 0.05
    // textbook invariants
    m.weights.sum shouldBe 1.0 +- 1e-9
    m.variances.foreach(v => v should be > 0.0)
  }

  test("textbook EM log-likelihood is monotone non-decreasing across iterations") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(1000)(rnd.nextGaussian()) ++ Seq.fill(1000)(5.0 + rnd.nextGaussian())
    val df = xs.toDF("x")
    // run with increasing maxIter and compare final loglik
    val lls = Seq(1, 3, 6, 10).map(i => EM.fit(df, "x", 2, i, variant = EM.Textbook).logLikelihood)
    lls.sliding(2).foreach { case Seq(a, b) => b should be >= (a - 1e-6) }
  }

  test("EM on events.value is deterministic and returns k rows") {
    val r1 = EM.fit(Tables.events(spark, sf), "value", 3, 5)
    val r2 = EM.fit(Tables.events(spark, sf), "value", 3, 5)
    r1.model.means.toSeq shouldBe r2.model.means.toSeq
    r1.model.weights.toSeq shouldBe r2.model.weights.toSeq
    r1.model.variances.toSeq shouldBe r2.model.variances.toSeq
    r1.model.k shouldBe 3
    r1.logLikelihood should not be Double.NaN
  }

  test("refcompat EM terminates via the reference's delta>80 rule") {
    val r = EM.fit(Tables.events(spark, sf), "value", 3, maxIter = 50, variant = EM.RefCompat)
    r.iterations should be < 50 // the >80-improvement rule stops almost immediately
    r.model.k shouldBe 3
  }

  test("golden: textbook EM on sf0.001 events.value, k=3, 10 iters") {
    val r = EM.fit(Tables.events(spark, sf), "value", 3, 10)
    // Golden values recorded from the first verified run (spread init,
    // local[4]/4 shuffle partitions — the spec session's exact config):
    // guards against semantic drift in the pdf, gamma, or M-step updates.
    val m = r.model
    val goldenW = Seq(0.43287649962194785, 0.36034345699720166, 0.20678004338085104)
    val goldenM = Seq(16.010116775156643, 55.80880935119204, 111.27499067666838)
    val goldenV = Seq(116.39656815250805, 642.7229109691457, 3328.3058140742924)
    m.weights.zip(goldenW).foreach { case (g, w) => g shouldBe w +- 1e-6 * w.abs }
    m.means.zip(goldenM).foreach { case (g, w) => g shouldBe w +- 1e-6 * w.abs }
    m.variances.zip(goldenV).foreach { case (g, w) => g shouldBe w +- 1e-6 * w.abs }
    r.logLikelihood shouldBe -4994.803036267473 +- 1e-3
    m.weights.sum shouldBe 1.0 +- 1e-9
  }

  test("SampleInit: a seeded fit is reproducible and starts from input points") {
    val rnd = new scala.util.Random(5)
    val xs = Seq.fill(300)(rnd.nextGaussian()) ++ Seq.fill(300)(8.0 + rnd.nextGaussian())
    val df = xs.toDF("x")
    // no iteration: the returned model is the initial one
    val start = EM.fit(df, "x", k = 3, maxIter = 0, init = EM.SampleInit(17))
    start.iterations shouldBe 0
    start.model.means.distinct.length shouldBe 3
    start.model.means.foreach(m => xs should contain(m))
    val a = EM.fit(df, "x", k = 3, maxIter = 10, init = EM.SampleInit(17))
    val b = EM.fit(df, "x", k = 3, maxIter = 10, init = EM.SampleInit(17))
    a.iterations shouldBe 10
    a.model.weights.toSeq shouldBe b.model.weights.toSeq
    a.model.means.toSeq shouldBe b.model.means.toSeq
    a.model.variances.toSeq shouldBe b.model.variances.toSeq
    a.logLikelihood shouldBe b.logLikelihood
  }

  test("SampleInit on fewer than k non-null rows names the column, k and the row count") {
    val df = Seq(Some(1.0), None, Some(2.0)).toDF("score")
    val e = intercept[IllegalArgumentException](
      EM.fit(df, "score", k = 3, maxIter = 5, init = EM.SampleInit(1)))
    e.getMessage should include("3 non-null rows in score")
    e.getMessage should include("found 2")
  }

  test("fixed-point EM: bit-identical across partitionings, close to native fit") {
    val init = GmmModel(Array(0.5, 0.3, 0.2), Array(20.0, 60.0, 150.0),
      Array(400.0, 900.0, 2500.0))
    val ev = Tables.events(spark, sf)
    val a = EM.fitFixedPoint(ev, "value", init, iters = 3)
    val b = EM.fitFixedPoint(ev.repartition(17), "value", init, iters = 3)
    // exact integer sums -> bit-identical params regardless of partitioning
    a.weights.toSeq shouldBe b.weights.toSeq
    a.means.toSeq shouldBe b.means.toSeq
    a.variances.toSeq shouldBe b.variances.toSeq
    // quantization error is bounded by the scale: a 100x finer
    // quantization moves the fitted params only marginally
    val fine = EM.fitFixedPoint(ev, "value", init, iters = 3, scale = 8)
    (0 until 3).foreach { j =>
      a.means(j) shouldBe fine.means(j) +- math.max(math.abs(fine.means(j)) * 1e-4, 1e-4)
      a.weights(j) shouldBe fine.weights(j) +- 1e-4
    }
  }

  test("typed suffstats aggregator: exact and partitioning-independent") {
    import org.apache.spark.sql.{DataFrame, Encoders}
    import org.apache.spark.sql.functions.col
    val data = Tables.events(spark, sf).select(col("value").cast("double").as("x"))
    val agg = new GmmSuffStatsAggregator(
      Array(0.5, 0.3, 0.2), Array(20.0, 60.0, 150.0), Array(400.0, 900.0, 2500.0))
    def run(df: DataFrame): GmmSuffStats =
      df.as[Double](Encoders.scalaDouble).select(agg.toColumn).head()
    val a = run(data)
    val b = run(data.repartition(7)) // fixed-point sums: bit-identical, any layout
    a.sumGamma.toSeq shouldBe b.sumGamma.toSeq
    a.sumGammaX.toSeq shouldBe b.sumGammaX.toSeq
    a.sumGammaX2.toSeq shouldBe b.sumGammaX2.toSeq
    a.sumMix shouldBe b.sumMix
    a.loglik shouldBe b.loglik
    // textbook invariant: per-point gammas sum to 1 => sum_j A_j == n
    val n = data.count().toDouble
    a.sumGamma.sum shouldBe n +- 0.01
  }
}
