package graft

import org.apache.spark.sql.functions._

/** Semantic checks for the round-8 session-2 additions: the
  * data-validation suite, the MAD robust-outlier statistic (vs an
  * in-memory sorted reference), and the additive identity of the
  * seasonal decomposition. Oracle hashing covers cross-engine equality;
  * these pin the SEMANTICS against independent re-computations. */
class NewOpsR8Spec extends SparkSpec {

  test("quality_constraints: six checks; the suite detects the fixtures'" +
      " real duplicate-key defect") {
    val rows = SparkEntry.queries("quality_constraints")(spark, sf).collect()
    rows.length shouldBe 6
    rows.map(_.getAs[String]("check_name")).toSeq shouldBe
      Seq("bounds_l_quantity", "completeness_l_returnflag",
        "domain_l_returnflag", "positivity_l_extendedprice",
        "ref_integrity_orderkey", "uniqueness_pk")
    val byName = rows.map(r => r.getString(0) ->
      ((r.getAs[Double]("metric"), r.getAs[Boolean]("passed")))).toMap
    // the synthetic lineitem REUSES (l_orderkey, l_linenumber) pairs
    // (~77% distinct) — the uniqueness check must catch that, every
    // other constraint holds on the fixtures
    val (uniq, uniqPassed) = byName("uniqueness_pk")
    uniqPassed shouldBe false
    uniq should (be > 0.5 and be < 1.0)
    byName.filterKeys(_ != "uniqueness_pk").values
      .foreach { case (_, p) => p shouldBe true }
    byName("completeness_l_returnflag")._1 shouldBe 1.0
  }

  test("stats_mad_outliers matches an in-memory sorted reference") {
    val got = SparkEntry.queries("stats_mad_outliers")(spark, sf)
      .collect().map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("med"),
          r.getAs[Double]("mad"), r.getAs[Long]("n_outliers")))).toMap
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    // lower median: smallest x with 2*rank(x) >= n
    def loMed(sorted: Seq[Double]): Double = sorted((sorted.size - 1) / 2)
    byType.foreach { case (t, vs) =>
      val (n, med, mad, nOut) = got(t)
      n shouldBe vs.size
      med shouldBe loMed(vs)
      mad shouldBe loMed(vs.map(v => math.abs(v - med)).sorted)
      nOut shouldBe vs.count(v => math.abs(v - med) > 3.0 * 1.4826 * mad)
    }
  }

  test("events_seasonal_decompose: additive identity and hod consistency") {
    val rows = SparkEntry.queries("events_seasonal_decompose")(spark, sf)
      .collect()
    rows.length should be > 0
    rows.foreach { r =>
      val y = r.getAs[Double]("y"); val t = r.getAs[Double]("trend")
      val s = r.getAs[Double]("seasonal"); val res = r.getAs[Double]("resid")
      // resid is fixed-rounded at 1e-6, so the identity holds to 5e-7
      math.abs(y - t - s - res) should be <= 5e-7
      r.getAs[Int]("hod") shouldBe
        r.getAs[java.sql.Timestamp]("h").toInstant
          .atZone(java.time.ZoneOffset.UTC).getHour
    }
    // every ±12h trend window averages only hours present in the grid:
    // interior hours of the dense fixture grid see all 25 contributors,
    // so trend differs from y (smoothing happened) somewhere
    rows.count(r => r.getAs[Double]("y") != r.getAs[Double]("trend")) should
      be > 0
  }

  test("curation_quota_sample: greedy fill matches a driver-side " +
      "recompute; every source stops under budget") {
    val budget = 600L
    val got = SparkEntry.queries("curation_quota_sample")(spark, sf).collect()
    // independent recompute: same features, driver-side sort + prefix
    val f = operators.TextAnalysis.qualityFeatures(col("text"))
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        org.apache.spark.sql.functions.size(
          operators.TextAnalysis.tokens(col("text"))).cast("long"),
        util.Det.toFixed(f.getField("quality_score"), 6))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val expect = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      val ordered = ds.sortBy { case (_, id, _, q) => (-q, id) }
      val cums = ordered.scanLeft(0L)(_ + _._3).init
      ordered.zip(cums).collect {
        case ((_, id, nt, _), cb) if cb < budget => (src, id, nt, cb)
      }
    }.toSet
    got.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(4))).toSet shouldBe expect
    // kept mass before the last document is under budget for EVERY source
    got.groupBy(_.getString(0)).foreach { case (_, rows) =>
      rows.map(_.getAs[Long]("cum_before")).max should be < budget
    }
    // and something was dropped (the budget bites on the fixtures)
    got.length should be < docs.length
  }

  test("layout_file_compaction: sequential packing invariants") {
    val target = 8192L
    val rows = SparkEntry.queries("layout_file_compaction")(spark, sf)
      .collect()
    val byLang = rows.groupBy(_.getString(0))
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    byLang.foreach { case (lang, fs) =>
      val sorted = fs.sortBy(_.getAs[Long]("file_id"))
      // file ids are a dense 0..n-1 sequence per lang
      sorted.map(_.getAs[Long]("file_id")).toSeq shouldBe
        sorted.indices.map(_.toLong)
      // files tile the doc_id range: each file's first doc follows the
      // previous file's last
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          b.getAs[Long]("first_doc") should be > a.getAs[Long]("last_doc")
        case _ =>
      }
      // a file overflows target by at most its boundary document, and a
      // non-last file undershoots by at most the PREVIOUS file's
      // boundary overflow (its first doc starts within maxDoc after the
      // band start) — so sizes live in (target - maxDoc, target + maxDoc)
      val langDocs = docs.filter(_._1 == lang)
      val maxDoc = langDocs.map(_._3).max
      sorted.foreach(_.getAs[Long]("bytes") should be <= (target + maxDoc))
      sorted.init.foreach(_.getAs[Long]("bytes") should be >= (target - maxDoc))
      // manifest covers every document exactly once
      sorted.map(_.getAs[Long]("n_docs")).sum shouldBe langDocs.length
      sorted.map(_.getAs[Long]("bytes")).sum shouldBe langDocs.map(_._3).sum
    }
  }

  // HALF_UP fixed-point identical to Det.toFixed/Det.fixed on the same
  // double (NOTES round-3: BigDecimal expansion == the FixedLong kernel)
  private def fxLong(x: Double, scale: Int): Long =
    BigDecimal(x * math.pow(10, scale.toDouble))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  test("text_hybrid_rrf: fused score identity, and both rank columns" +
      " match independent re-rankings") {
    val rows = SparkEntry.queries("text_hybrid_rrf")(spark, sf).collect()
    rows.length should be > 0
    rows.length should be <= 20
    // RRF identity from the emitted ranks
    rows.foreach { r =>
      val rb = Option(r.getAs[java.lang.Long]("rank_bm25")).map(_.toLong)
      val rc = Option(r.getAs[java.lang.Long]("rank_cos")).map(_.toLong)
      (rb orElse rc).isDefined shouldBe true
      val expect = rb.map(v => 1.0 / (60 + v)).getOrElse(0.0) +
        rc.map(v => 1.0 / (60 + v)).getOrElse(0.0)
      r.getAs[Double]("rrf") shouldBe expect
    }
    // fused order is non-increasing
    rows.map(_.getAs[Double]("rrf")).sliding(2).foreach {
      case Array(a, b) => a should be >= b
      case _ =>
    }
    // lexical ranks agree with the catalog's own BM25 top-50 ordering
    val bmOrder = SparkEntry.queries("text_bm25_topk")(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).zipWithIndex
      .map { case (id, i) => id -> (i + 1).toLong }.toMap
    rows.foreach { r =>
      Option(r.getAs[java.lang.Long]("rank_bm25")).foreach { rb =>
        bmOrder(r.getAs[Long]("doc_id")) shouldBe rb.toLong
      }
    }
    // dense ranks agree with an in-memory cosine ranking against vec 0
    val embs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    val q = embs(0L)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val denseRank = embs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, fxLong(cos(q, v), 6)) }
      .sortBy { case (id, c6) => (-c6, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
    rows.foreach { r =>
      Option(r.getAs[java.lang.Long]("rank_cos")).foreach { rc =>
        denseRank(r.getAs[Long]("doc_id")) shouldBe rc.toLong
      }
    }
  }

  test("embed_centroid_drift matches an in-memory integerized recompute" +
      " exactly") {
    val got = SparkEntry.queries("embed_centroid_drift")(spark, sf).collect()
      .map(r => r.getAs[Int]("label") ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("cos_centroid"), r.getAs[Double]("l2_shift"))))
      .toMap
    val byLabel = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
      .groupBy(_._1)
    got.keySet shouldBe byLabel.keySet
    byLabel.foreach { case (label, rows) =>
      val a = rows.filter(_._2 % 2 == 0).map(_._3)
      val b = rows.filter(_._2 % 2 == 1).map(_._3)
      val (nA, nB, cosC, l2) = got(label)
      nA shouldBe a.length
      nB shouldBe b.length
      val dim = rows.head._3.length
      def centroid(vs: Array[Array[Double]]): Array[Double] =
        Array.tabulate(dim) { j =>
          vs.map(v => fxLong(v(j), 7)).sum.toDouble / (vs.length * 1e7)
        }
      val ma = centroid(a)
      val mb = centroid(b)
      var dotI = 0L; var a2I = 0L; var b2I = 0L; var l2I = 0L
      (0 until dim).foreach { j =>
        dotI += fxLong(ma(j) * mb(j), 9)
        a2I += fxLong(ma(j) * ma(j), 9)
        b2I += fxLong(mb(j) * mb(j), 9)
        l2I += fxLong((ma(j) - mb(j)) * (ma(j) - mb(j)), 9)
      }
      cosC shouldBe (dotI.toDouble / 1e9) /
        (math.sqrt(a2I.toDouble / 1e9) * math.sqrt(b2I.toDouble / 1e9))
      l2 shouldBe math.sqrt(l2I.toDouble / 1e9)
      cosC should (be >= -1.0 and be <= 1.0 + 1e-9)
      l2 should be >= 0.0
    }
  }

  test("embed_outlier_mahalanobis: top-50 and scores match a full" +
      " in-memory integerized ranking") {
    val got = SparkEntry.queries("embed_outlier_mahalanobis")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Double]("maha2")))
    got.length shouldBe 50
    val rows = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
    val dim = rows.head._3.length
    val scored = rows.groupBy(_._2).toSeq.flatMap { case (_, vs) =>
      val n = vs.length.toLong
      val m = Array.tabulate(dim) { j =>
        vs.map(v => fxLong(v._3(j), 7)).sum.toDouble / (n * 1e7)
      }
      val s2 = Array.tabulate(dim) { j =>
        vs.map(v => fxLong(v._3(j) * v._3(j), 12)).sum.toDouble / (n * 1e12) -
          m(j) * m(j)
      }
      vs.map { case (id, label, v) =>
        var ti = 0L
        (0 until dim).foreach { j =>
          val t = if (s2(j) > 0) (v(j) - m(j)) * (v(j) - m(j)) / s2(j) else 0.0
          ti += fxLong(t, 6)
        }
        (id, label, ti)
      }
    }
    val expect = scored.sortBy { case (id, _, ti) => (-ti, id) }.take(50)
      .map { case (id, label, ti) => (id, label, ti.toDouble / 1e6) }
    got.toSeq shouldBe expect
    // a healthy corpus: the mean of a chi^2(dim) is ~dim, outliers well
    // above; ordering already pinned, this pins the magnitude regime
    got.head._3 should be > got.last._3 - 1e-9
  }

  test("exactJaccardPairsBlocked finds near-dups through rare-shingle" +
      " blocks and enforces the df cap") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base),                                // near-dup group {1,2}
      (2L, base + " iota"),
      (3L, "one two three four five six seven"), // unrelated
      (4L, "totally different words here again now")
    )
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map(t => Row(t._1, t._2))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    val pairs = graft.operators.Dedup.blockedJaccardPairs(
      graft.operators.Dedup.keys(df, "doc_id", "text", 3),
      threshold = 0.5, maxShingleDf = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    pairs.map(p => (p._1, p._2)).toSet shouldBe Set((1L, 2L))
    // sh(1)=6 shingles, sh(2)=7, intersect=6 => 6/7
    pairs.head._3 shouldBe 6.0 / 7.0
    // df cap: with every shared shingle hotter than the cap, the pair
    // has no block to meet in (documented boilerplate-only blind spot)
    val hot = (1L to 30L).map(i => (100L + i, base)) :+ (200L, base)
    val hotDf = spark.createDataFrame(
      spark.sparkContext.parallelize(hot.map(t => Row(t._1, t._2))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    graft.operators.Dedup.blockedJaccardPairs(
      graft.operators.Dedup.keys(hotDf, "doc_id", "text", 3),
      threshold = 0.5, maxShingleDf = 20).count() shouldBe 0L
  }

  test("ann_recall_eval: recall ties to the two rankings it compares") {
    val r = SparkEntry.queries("ann_recall_eval")(spark, sf).collect().head
    val nExact = r.getAs[Long]("n_exact")
    val nHit = r.getAs[Long]("n_hit")
    nExact shouldBe 20L * 5L // 20 standing queries, full top-5 each
    nHit should be <= nExact
    r.getAs[Double]("recall_at_5") shouldBe nHit.toDouble / nExact
    val emb = Tables.embeddings(spark, sf)
    val qv = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.operators.Similarity.bruteForceTopK(emb, qv, k = 5)
      .select(col("qid"), col("neighbor_id"))
    val ivf = graft.operators.Similarity.ivfTopK(emb, qv, k = 5)
      .select(col("qid"), col("neighbor_id"))
    ivf.join(exact, Seq("qid", "neighbor_id")).count() shouldBe nHit
    // IVF with nProbe=4/16 should retain most of the exact set
    r.getAs[Double]("recall_at_5") should be > 0.5
  }

  test("containmentPairsPrefix == containmentPairs filtered, at two" +
      " thresholds (exactness of the PPJoin prefix filter)") {
    val docs = Tables.documents(spark, sf)
    Seq(0.5, 0.9).foreach { t =>
      val full = graft.operators.Dedup.containmentPairs(
        docs, "doc_id", "text", k = 3, maxShingleDf = 100)
        .where(col("containment") >= t)
        .collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
          r.getAs[Long]("shared"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Double]("containment"))).toSet
      val pref = graft.operators.Dedup.containmentPairsPrefix(
        graft.operators.Dedup.keys(docs, "doc_id", "text", 3),
        threshold = t, maxShingleDf = 100)
        .collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
          r.getAs[Long]("shared"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Double]("containment"))).toSet
      withClue(s"threshold $t: ") {
        pref shouldBe full
        pref should not be empty // fixtures have containment pairs
      }
    }
  }

  test("containmentPairsPrefix: IEEE boundary case — a pair at exactly" +
      " t whose one non-shared shingle is A's rarest is still found") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // A = 12 distinct tokens -> 10 distinct 3-shingles s1..s10;
    // B = A's first 11 tokens -> shares s1..s9; C(A->B) = 9/10 = 0.9.
    // s10 is A-only (df=1) and every shared shingle has df=2, so A's
    // RAREST shingle is the one NOT shared: under the IEEE-undersized
    // prefix (floor((1.0-0.9)*10)+1 = 1) the A-side index held only
    // s10 and the pair was silently missed in the A->B direction.
    val aText = (1 to 12).map(i => s"tok$i").mkString(" ")
    val bText = (1 to 11).map(i => s"tok$i").mkString(" ")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, aText), Row(2L, bText))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    val got = graft.operators.Dedup.containmentPairsPrefix(
      graft.operators.Dedup.keys(df, "doc_id", "text", 3),
      threshold = 0.9, maxShingleDf = 100)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("shared"), r.getAs[Long]("n_a"),
        r.getAs[Double]("containment"))).toSet
    // direction A->B sits exactly at the threshold; B->A is 9/9 = 1.0
    got should contain ((1L, 2L, 9L, 10L, 0.9))
    got should contain ((2L, 1L, 9L, 9L, 1.0))
    // and the reference operator agrees
    val full = graft.operators.Dedup.containmentPairs(
      df, "doc_id", "text", k = 3, maxShingleDf = 100)
      .where(col("containment") >= 0.9)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("shared"), r.getAs[Long]("n_a"),
        r.getAs[Double]("containment"))).toSet
    got shouldBe full
  }

  test("dedup_multi_signal: every union edge is intra-cluster, the" +
      " ensemble coarsens the Jaccard-only clustering, one keeper per" +
      " cluster") {
    val rows = SparkEntry.queries("dedup_multi_signal")(spark, sf).collect()
    val cl = rows.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("cluster_id")).toMap
    // every edge of BOTH signals has endpoints in one cluster
    val docs = Tables.documents(spark, sf)
    val jac = graft.operators.Dedup.nearDuplicatePairsMd5(
      docs, "doc_id", "text", threshold = 0.5, shingleK = 3,
      numHashes = 16, bands = 4).select(col("a"), col("b")).collect()
    val cont = graft.operators.Dedup.containmentPairs(
      docs, "doc_id", "text", k = 3, maxShingleDf = 100)
      .where(col("containment") >= 0.9)
      .select(col("a"), col("b")).collect()
    (jac ++ cont).foreach { e =>
      cl(e.getLong(0)) shouldBe cl(e.getLong(1))
    }
    // ensemble coarsens the Jaccard-only pipeline clustering: doc pairs
    // the pipeline co-clusters stay co-clustered under the union
    val pipe = SparkEntry.queries("dedup_pipeline")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    pipe.groupBy(_._2).values.foreach { members =>
      members.map(m => cl(m._1)).distinct.length shouldBe 1
    }
    // exactly one keeper per cluster; the keeper maximizes (n_chars, -id)
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.values.foreach { ms =>
      ms.count(_.getAs[Boolean]("kept")) shouldBe 1
      val keeper = ms.find(_.getAs[Boolean]("kept")).get
      val best = ms.minBy(r =>
        (-r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")))
      keeper.getAs[Long]("doc_id") shouldBe best.getAs[Long]("doc_id")
      ms.foreach(_.getAs[Long]("keep_id") shouldBe keeper.getAs[Long]("doc_id"))
      ms.foreach(_.getAs[Long]("cluster_size") shouldBe ms.length.toLong)
    }
  }

  test("profile_key_skew matches an in-memory key histogram") {
    val got = SparkEntry.queries("profile_key_skew")(spark, sf).collect()
    got.length shouldBe 10
    val hist = Tables.events(spark, sf).select(col("user_id")).collect()
      .map(_.getLong(0)).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val nKeys = hist.size.toLong
    val nRows = hist.values.sum
    val expect = hist.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
    got.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cnt"))).toSeq shouldBe expect
    got.foreach { r =>
      val cnt = r.getAs[Long]("cnt")
      val skew = cnt.toDouble * nKeys.toDouble / nRows.toDouble
      r.getAs[Double]("share") shouldBe cnt.toDouble / nRows.toDouble
      r.getAs[Double]("skew_factor") shouldBe skew
      r.getAs[Long]("salt_factor") shouldBe math.ceil(skew).toLong
    }
  }

  test("ann_matryoshka_eval: recall ties to the truncated-vs-full rankings") {
    val r = SparkEntry.queries("ann_matryoshka_eval")(spark, sf).collect().head
    val nExact = r.getAs[Long]("n_exact")
    val nHit = r.getAs[Long]("n_hit")
    nExact shouldBe 100L
    r.getAs[Double]("recall_at_5") shouldBe nHit.toDouble / nExact
    val emb = Tables.embeddings(spark, sf)
    val qv = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.operators.Similarity.bruteForceTopK(emb, qv, k = 5)
      .select(col("qid"), col("neighbor_id"))
    val half = emb.select(col("vec_id"), slice(col("embedding"), 1, 32).as("embedding"))
    val halfQ = qv.select(col("qid"), slice(col("qvec"), 1, 32).as("qvec"))
    val trunc = graft.operators.Similarity.bruteForceTopK(half, halfQ, k = 5)
      .select(col("qid"), col("neighbor_id"))
    trunc.join(exact, Seq("qid", "neighbor_id")).count() shouldBe nHit
  }

  test("dedup_lsh_eval: counts tie to the operator outputs and the" +
      " ratio identities hold") {
    val r = SparkEntry.queries("dedup_lsh_eval")(spark, sf).collect().head
    val nTrue = r.getAs[Long]("n_true")
    val nCand = r.getAs[Long]("n_cand")
    val nHit = r.getAs[Long]("n_hit")
    nHit should be <= math.min(nTrue, nCand)
    nTrue should be > 0L // the synthetic corpus has near-dup groups
    r.getAs[Double]("recall") shouldBe nHit.toDouble / nTrue
    r.getAs[Double]("precision") shouldBe nHit.toDouble / nCand
    val p = r.getAs[Double]("precision"); val rc = r.getAs[Double]("recall")
    r.getAs[Double]("f1") shouldBe (if (p + rc > 0) 2.0 * p * rc / (p + rc) else 0.0)
    // recall re-derived from the operators the query composes
    val docs = Tables.documents(spark, sf)
    val (_, cand) = graft.operators.Dedup.md5StagedAndCandidates(
      docs, "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4)
    val truth = graft.operators.Dedup.blockedJaccardPairs(
      graft.operators.Dedup.keys(docs, "doc_id", "text", 3),
      threshold = 0.5, maxShingleDf = 20).select(col("a"), col("b"))
    truth.count() shouldBe nTrue
    cand.count() shouldBe nCand
    cand.join(truth, Seq("a", "b")).count() shouldBe nHit
  }
}
