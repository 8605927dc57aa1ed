package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
  private def corpus = Seq(
    (0L, base),
    (1L, base),                                        // exact dup of 0
    (2L, base.replace("quick", "speedy")),             // near dup of 0
    (3L, "completely different content about spark sql aggregation pipelines and shuffles galore"),
    (4L, "another unrelated document mentioning embeddings vectors and cosine similarity search"),
    (5L, base + " extra trailing tokens appended here")  // near dup of 0
  ).toDF("doc_id", "text")

  test("exactClusters flags exact duplicates, keeps the min-id keeper") {
    val out = Dedup.exactClusters(corpus, "doc_id", "text")
      .select("doc_id", "keeper_id", "cluster_size", "is_duplicate")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    out(0L) shouldBe ((0L, 2L, false))
    out(1L) shouldBe ((0L, 2L, true))
    out(3L) shouldBe ((3L, 1L, false))
  }

  test("exactClusters normalization: case/whitespace variants collapse") {
    val df = Seq((0L, "Hello  World"), (1L, "hello world "), (2L, "other")).toDF("doc_id", "text")
    val out = Dedup.exactClusters(df, "doc_id", "text")
    out.where(col("is_duplicate")).select("doc_id").as[Long].collect() shouldBe Array(1L)
  }

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val pairs = Dedup.nearDuplicatePairs(corpus, "doc_id", "text",
      threshold = 0.4, shingleK = 3, numHashes = 16, bands = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    pairs should contain((0L, 1L))   // exact dup always collides
    pairs should contain((0L, 2L))   // one-word change: high jaccard
    // unrelated docs must not pair with the base cluster
    pairs.exists { case (a, b) => Set(a, b).contains(3L) && Set(a, b).intersect(Set(0L, 1L, 2L)).nonEmpty } shouldBe false
  }

  test("jaccard of identical docs is 1, disjoint docs is 0") {
    val df = Seq((TextAnalysis.jaccard(
      split(lit("a b c"), " "), split(lit("a b c"), " ")),
      TextAnalysis.jaccard(split(lit("a b"), " "), split(lit("x y"), " "))))
    val r = corpus.limit(1).select(
      TextAnalysis.jaccard(split(lit("a b c"), " "), split(lit("a b c"), " ")).as("same"),
      TextAnalysis.jaccard(split(lit("a b"), " "), split(lit("x y"), " ")).as("disjoint")).head()
    r.getDouble(0) shouldBe 1.0
    r.getDouble(1) shouldBe 0.0
  }

  test("simhash: identical docs -> distance 0; near dup -> small; unrelated -> large") {
    val out = Dedup.simhashNeighbors(corpus, "doc_id", "text", maxHamming = 16)
      .select("id", "simhash", "nn_id", "nn_hamming").collect()
      .map(r => r.getLong(0) -> r).toMap
    val sh = out.view.mapValues(_.getLong(1)).toMap
    sh(0L) shouldBe sh(1L) // identical text, identical fingerprint
    java.lang.Long.bitCount(sh(0L) ^ sh(2L)) should be <= 16
    java.lang.Long.bitCount(sh(0L) ^ sh(3L)) should be > 16
    out(0L).getLong(2) shouldBe 1L  // nearest neighbor of 0 is its exact dup
    out(0L).getInt(3) shouldBe 0    // bit_count yields IntegerType
  }

  test("incremental md5 dedup ≡ batch pairs restricted to ≥1 new endpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sigs-md5").toString + "/sigs"
    val oldDocs = Seq(
      (0L, base),
      (1L, base + " with a couple extra tokens"),        // old-old near pair
      (2L, "completely different content about spark sql aggregation pipelines and shuffles galore"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, base.replace("quick", "speedy")),            // near dup of OLD doc 0
      (11L, base.replace("quick", "speedy") + " yes"),   // near dup of 10 (new-vs-new)
      (12L, "entirely novel text mentioning embeddings vectors cosine and large language models"))
      .toDF("doc_id", "text")
    Dedup.writeSignatureTableMd5(oldDocs, "doc_id", "text", dir)
    val inc = Dedup.incrementalNearDuplicatePairsMd5(
        newDocs, "doc_id", "text", spark.read.parquet(dir), threshold = 0.4)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet

    // orientation contract: `a` is always new; new-old keeps (new, old)
    inc.map(p => (p._1, p._2)) should contain((10L, 0L))
    inc.map(p => (p._1, p._2)) should contain((10L, 11L))
    all(inc.map(_._1)) should be >= 10L
    // the old-old near pair (0,1) must NOT be re-found — the delta run
    // only pays for pairs the increment touches
    inc.exists(p => Set(p._1, p._2) == Set(0L, 1L)) shouldBe false
    inc.exists(p => Set(p._1, p._2).contains(12L)) shouldBe false

    // batch equivalence: full-corpus md5 pairs with >= 1 new endpoint,
    // re-oriented to the incremental contract, match EXACTLY (jaccard too)
    val batch = Dedup.nearDuplicatePairsMd5(
        oldDocs.unionByName(newDocs), "doc_id", "text", threshold = 0.4)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      .filter(p => p._1 >= 10L || p._2 >= 10L)
      .map(p => if (p._1 >= 10L) p else (p._2, p._1, p._3)).toSet
    inc shouldBe batch
  }

  test("wordShingles: doc shorter than k yields empty array, not garbage") {
    val r = Seq((0L, "one two")).toDF("doc_id", "text")
      .select(TextAnalysis.wordShingles(col("text"), 3).as("sh")).head()
    r.getSeq[String](0) shouldBe Seq.empty
  }

  test("spanDuplication: exact dups fully covered, unique docs at zero") {
    val got = Dedup.spanDuplication(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    got(0L) shouldBe 1.0 // exact dup pair 0/1: every span shared
    got(1L) shouldBe 1.0
    got(3L) shouldBe 0.0 // unique docs share no 5-gram
    got(4L) shouldBe 0.0
    got(5L) should (be >= 0.5 and be < 1.0) // shares base's spans, not the tail
  }

  test("murmur-kernel and md5-oracle-twin pipelines agree on planted duplicates") {
    // Exact duplicates have Jaccard 1.0, so EVERY banded-LSH variant must
    // surface them regardless of hash family; the planted near-dup is
    // above both thresholds too. Cross-validates the two independent
    // implementations (native murmur kernels vs md5 HOF pipeline).
    val murmur = Dedup.nearDuplicatePairs(corpus, "doc_id", "text",
      threshold = 0.5, shingleK = 3, numHashes = 16, bands = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val md5fam = Dedup.nearDuplicatePairsMd5(corpus, "doc_id", "text",
      threshold = 0.5, shingleK = 3, numHashes = 16, bands = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    withClue(s"murmur=$murmur md5=$md5fam") {
      murmur should contain ((0L, 1L)) // exact dup: guaranteed bucket hit
      md5fam should contain ((0L, 1L))
      // both verified-pair sets contain only true >= 0.5 Jaccard pairs
      // over the planted corpus: near dups of 0 are docs 2 and 5
      murmur.subsetOf(Set((0L,1L),(0L,2L),(0L,5L),(1L,2L),(1L,5L),(2L,5L))) shouldBe true
      md5fam.subsetOf(Set((0L,1L),(0L,2L),(0L,5L),(1L,2L),(1L,5L),(2L,5L))) shouldBe true
    }
    spark.catalog.clearCache()
  }

  test("suffixSpanDuplicates finds planted repeats at their true length") {
    // docs 0 and 1 are identical 17-token texts: the maximal repeated
    // span is the full text (cross-doc); doc 5 extends the base, so base
    // is also a prefix-repeat against it.
    val spans = Dedup.suffixSpanDuplicates(corpus, "doc_id", "text", minLen = 4)
      .collect()
    spans.length should be > 0
    val top = spans.maxBy(_.getAs[Long]("span_len"))
    top.getAs[Long]("span_len") shouldBe base.split(" ").length.toLong
    top.getAs[String]("span") shouldBe base
    top.getAs[Long]("n_cross_doc") should be > 0L
    // no reported span below the threshold, all spans genuinely repeat:
    spans.foreach { r =>
      r.getAs[Long]("span_len") should be >= 4L
      val span = r.getAs[String]("span")
      val hits = corpus.collect().map(_.getString(1))
        .map(t => ("\\b" + java.util.regex.Pattern.quote(span) + "\\b").r
          .findAllMatchIn(t).length).sum
      hits should be >= 2
    }
  }

  test("suffixSpanDuplicates: single unique doc yields no spans") {
    val solo = Seq((0L, "totally singular words never repeated anywhere else ever"))
      .toDF("doc_id", "text")
    Dedup.suffixSpanDuplicates(solo, "doc_id", "text", minLen = 2)
      .count() shouldBe 0L
  }

  test("suffixSpanDuplicates: maxSuffixLen saturates length, never loses detection") {
    // two copies of a 40-token doc; with cap 8 the repeat is still found,
    // reported at the saturated length 8 (the cap-prefix match)
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val dup = Seq((0L, text), (1L, text)).toDF("doc_id", "text")
    val spans = Dedup.suffixSpanDuplicates(dup, "doc_id", "text",
      minLen = 4, maxSuffixLen = 8).collect()
    spans.length should be > 0
    spans.map(_.getAs[Long]("span_len")).max shouldBe 8L
    spans.foreach(_.getAs[Long]("span_len") should be <= 8L)
    // uncapped twin sees the full 40-token span
    Dedup.suffixSpanDuplicates(dup, "doc_id", "text", minLen = 4)
      .collect().map(_.getAs[Long]("span_len")).max shouldBe 40L
    // cap below minLen is a misconfiguration, not a silent empty result
    an[IllegalArgumentException] should be thrownBy
      Dedup.suffixSpanDuplicates(dup, "doc_id", "text",
        minLen = 9, maxSuffixLen = 8)
  }

  test("dedup_pipeline: survivor is the longest per cluster, sizes sum to corpus") {
    val out = graft.SparkEntry.queries("dedup_pipeline")(spark, sf).collect()
    out.length should be > 0
    val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.values.foreach { rows =>
      rows.map(_.getAs[Long]("cluster_size")).toSet shouldBe Set(rows.length.toLong)
      val kept = rows.filter(_.getAs[Boolean]("kept"))
      kept.length shouldBe 1
      kept.head.getAs[Long]("n_chars") shouldBe rows.map(_.getAs[Long]("n_chars")).max
      rows.foreach(_.getAs[Long]("keep_id") shouldBe kept.head.getAs[Long]("doc_id"))
    }
    // no document lost or duplicated across the CC + reps joins
    out.length.toLong shouldBe graft.Tables.documents(spark, sf).count()
    out.map(_.getAs[Long]("doc_id")).distinct.length shouldBe out.length
    spark.catalog.clearCache()
  }

  test("containmentPairs: maxShingleDf drops the viral shingle, keeps rare ones") {
    // 120 docs all opening with the same 3-gram; everything else unique.
    // With the guard at 100 the hot shingle is dropped and NO pairs
    // remain; raising the guard past 120 restores the hot-shingle pairs.
    val docs = (0L until 120L)
      .map(i => (i, s"h h h u$i v$i w$i")).toDF("doc_id", "text")
    Dedup.containmentPairs(docs, "doc_id", "text",
      k = 3, maxShingleDf = 100).count() shouldBe 0L
    val uncapped = Dedup.containmentPairs(docs, "doc_id", "text",
      k = 3, maxShingleDf = 1000)
    uncapped.count() shouldBe (120L * 119L)
    uncapped.agg(max(col("shared"))).head().getLong(0) shouldBe 1L
  }

  test("simhashNeighbors: maxBucketSize drops hot chunk buckets, keeps results") {
    // 30 identical docs -> every chunk bucket has 30 members; a cap of 10
    // drops all four buckets so no candidates form (each doc keeps its
    // fingerprint, nn_* null), while cap 1000 pairs everything
    val hot = (0L until 30L).map(i => (i, base)).toDF("doc_id", "text")
    val capped = Dedup.simhashNeighbors(hot, "doc_id", "text",
      maxHamming = 16, maxBucketSize = 10).collect()
    capped.length shouldBe 30
    capped.foreach(r => r.isNullAt(r.fieldIndex("nn_id")) shouldBe true)
    val uncapped = Dedup.simhashNeighbors(hot, "doc_id", "text",
      maxHamming = 16, maxBucketSize = 1000).collect()
    uncapped.foreach(r => r.isNullAt(r.fieldIndex("nn_id")) shouldBe false)
  }
}
