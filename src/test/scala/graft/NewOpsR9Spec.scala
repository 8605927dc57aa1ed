package graft

import org.apache.spark.sql.functions._

/** Semantic checks for the round-9 additions: the sampled-ground-truth
  * eval harnesses (the scale-affordable variants of dedup_lsh_eval /
  * ann_recall_eval). Oracle hashing covers cross-engine equality; these
  * pin the ESTIMATOR semantics — the sampled truth is exactly the full
  * truth restricted to sampled min-id endpoints, and the reported
  * estimates are exactly the inverse-rate-weighted ratios of the
  * per-stratum integer counts the row itself exposes. */
class NewOpsR9Spec extends SparkSpec {

  test("exactJaccardPairsBlockedSampled == full blocked truth restricted" +
      " to pairs whose min-id endpoint is sampled") {
    val docs = Tables.documents(spark, sf01)
    val sampled = docs
      .where(graft.operators.Curation.hashU(col("doc_id"), 91L) < 0.3)
      .select(col("doc_id").as("id"))
    val full = graft.operators.Dedup.blockedJaccardPairs(
      graft.operators.Dedup.keys(docs, "doc_id", "text", 3),
      threshold = 0.5, maxShingleDf = 20)
    val expected = full
      .join(sampled.select(col("id").as("a")), Seq("a"))
      .select(col("a"), col("b"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = graft.operators.Dedup.blockedJaccardPairs(
      graft.operators.Dedup.keys(docs, "doc_id", "text", 3),
      threshold = 0.5, maxShingleDf = 20, Some(sampled))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    got shouldBe expected
    expected.nonEmpty shouldBe true // fixture has organic dup groups
  }

  test("dedup_lsh_eval_sampled: estimates are exactly the inverse-rate-" +
      "weighted ratios of the row's own per-stratum counts") {
    val rows = SparkEntry.queries("dedup_lsh_eval_sampled")(spark, sf01)
      .collect()
    // one row per (source, dense) stratum actually present
    rows.map(r => (r.getAs[String]("source"), r.getAs[Boolean]("dense")))
      .distinct.length shouldBe rows.length
    def w(dense: Boolean): Long = if (dense) 16L else 8L
    val wTrue = rows.map(r => w(r.getAs[Boolean]("dense")) * r.getAs[Long]("n_true")).sum
    val wHit = rows.map(r => w(r.getAs[Boolean]("dense")) * r.getAs[Long]("n_hit")).sum
    val wCand = rows.map(r => w(r.getAs[Boolean]("dense")) * r.getAs[Long]("n_cand")).sum
    val wCandTrue = rows.map(r => w(r.getAs[Boolean]("dense")) * r.getAs[Long]("n_cand_true")).sum
    val recallEst = rows.head.getAs[Double]("recall_est")
    val precisionEst = rows.head.getAs[Double]("precision_est")
    recallEst shouldBe (if (wTrue > 0) wHit.toDouble / wTrue else 0.0)
    precisionEst shouldBe (if (wCand > 0) wCandTrue.toDouble / wCand else 0.0)
    // the estimates are global constants repeated on every stratum row
    rows.map(_.getAs[Double]("recall_est")).distinct.length shouldBe 1
    // hits never exceed truth, verified candidates never exceed candidates
    rows.foreach { r =>
      r.getAs[Long]("n_hit") should be <= r.getAs[Long]("n_true")
      r.getAs[Long]("n_cand_true") should be <= r.getAs[Long]("n_cand")
      r.getAs[Long]("n_sampled") should be <= r.getAs[Long]("n_docs")
    }
    // the whole point: a usable recall signal from a fraction of the
    // truth work (the fixture plants real dup groups, so sampled truth
    // must be non-empty at sf0.01)
    wTrue should be > 0L
  }

  test("dedup_lsh_eval_sampled estimates agree with the FULL eval row" +
      " within a wide sampling bound at sf0.01") {
    val sampled = SparkEntry.queries("dedup_lsh_eval_sampled")(spark, sf01)
      .collect().head
    val full = SparkEntry.queries("dedup_lsh_eval")(spark, sf01)
      .collect().head
    val fullRecall = full.getAs[Double]("recall")
    val fullPrecision = full.getAs[Double]("precision")
    // binomial-order bound: the sf0.01 sampled truth holds only dozens
    // of pairs, so allow a wide but still informative window
    math.abs(sampled.getAs[Double]("recall_est") - fullRecall) should be < 0.35
    math.abs(sampled.getAs[Double]("precision_est") - fullPrecision) should be < 0.35
  }

  test("ann_knn_cap_eval: cap-size sweep — cap 8 bites (recall < 1), " +
      "cap 64 is a no-op at sf0.01 (recall exactly 1)") {
    // sf0.01 embeddings: 500 vectors over 16 cells (~31/cell), so
    // cap 8 quarters every probed cell while cap 64 never triggers
    val rows = SparkEntry.queries("ann_knn_cap_eval")(spark, sf01).collect()
    rows.map(_.getAs[Long]("max_cell_size")).toSeq shouldBe Seq(8L, 64L)
    val r8 = rows.head
    r8.getAs[Double]("edge_recall") should be < 1.0
    r8.getAs[Double]("edge_recall") should be > 0.1
    r8.getAs[Long]("n_hit") should be <= r8.getAs[Long]("n_capped")
    val r64 = rows(1)
    r64.getAs[Double]("edge_recall") shouldBe 1.0
    r64.getAs[Long]("n_capped") shouldBe r64.getAs[Long]("n_uncapped")
    // monotone in the cap: a larger cap can only widen candidates
    r64.getAs[Double]("edge_recall") should be >= r8.getAs[Double]("edge_recall")
  }

  test("ann_recall_eval_sampled: 32 hash-sampled queries, dense top-5" +
      " truth, recall consistent with its own counts") {
    val r = SparkEntry.queries("ann_recall_eval_sampled")(spark, sf)
      .collect().head
    val nExact = r.getAs[Long]("n_exact")
    val nHit = r.getAs[Long]("n_hit")
    nExact shouldBe 32L * 5L
    nHit should be <= nExact
    r.getAs[Double]("recall_at_5") shouldBe nHit.toDouble / nExact
    // the hash sample must differ from the id-prefix standing set:
    // 32 smallest hashU values are spread over the id space
    val ids = graft.operators.Curation
      .exactKSample(Tables.embeddings(spark, sf), col("vec_id"), 32, 93L)
      .select(col("vec_id")).collect().map(_.getLong(0))
    ids.length shouldBe 32
    ids.max should be > 31L
  }
}
