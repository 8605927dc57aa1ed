package graft.functions

import graft.SparkSpec

class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions evaluate like the Column API") {
    Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), "a b c a b c")).toDF("u", "v", "t")
      .createOrReplaceTempView("gf_probe")
    val r = spark.sql(
      """SELECT
        |  cosine_sim(u, v) AS cos,
        |  dot_product(u, v) AS dot,
        |  l2_norm(u) AS norm,
        |  simhash64(split(t, ' ')) AS sh,
        |  word_shingles(t, 2) AS shingles,
        |  size(minhash_sig(word_shingles(t, 2), 8)) AS sig_len
        |FROM gf_probe""".stripMargin).head()
    r.getDouble(0) shouldBe 1.0 +- 1e-12
    r.getDouble(1) shouldBe 1.0 +- 1e-12
    r.getDouble(2) shouldBe 1.0 +- 1e-12
    r.getLong(3) should not be 0L
    // "a b c a b c" 2-shingles, distinct, first-occurrence order
    r.getSeq[String](4) shouldBe Seq("a b", "b c", "c a")
    r.getInt(5) shouldBe 8
  }

  test("hilbert_key SQL function matches the scalar kernel") {
    val r = spark.sql(
      "SELECT hilbert_key(3, 5, 4) AS h").head()
    r.getLong(0) shouldBe VectorOps.hilbertKey(4, 3L, 5L)
  }

  // No register call anywhere: the shared session is built by
  // GraftSession, whose GraftExtensions injects every function.
  test("the shared session resolves every GraftFunctions name in SQL") {
    spark.conf.get("spark.sql.extensions") shouldBe "graft.GraftExtensions"
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe "1000"
    GraftFunctions.all.foreach { case (id, info, _) =>
      withClue(s"${id.funcName}: ") {
        val described = spark.sql(s"DESCRIBE FUNCTION ${id.funcName}")
          .collect().map(_.getString(0)).mkString("\n")
        described should include(s"Class: ${info.getClassName}")
      }
    }
  }

  test("non-literal k for word_shingles is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT word_shingles('a b c', CAST(id AS INT)) FROM range(1)").collect()
    }
    e.getMessage should include("integer literal")
  }
}
