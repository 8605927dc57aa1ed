package graft

import org.apache.spark.sql.functions._

/** Scale probe for operators whose CATALOG rows pin oracle-stability
  * parameters that are wrong at scale. The catalog's ann_knn_join /
  * embed_mutual_knn_clusters pin nCells = 16 so the DuckDB oracle
  * reproduces the exact cells — but a fixed quantizer makes in-cell
  * candidate work grow as n²/nCells; the documented scale path sizes
  * nCells ∝ ⌈√n⌉ (bounding candidates at ~nProbe·√n per query, the
  * standard IVF rule). This main runs that scale-sized variant on a
  * slice and prints one JSON line with wall-clock + output invariants
  * (row count = n·k, dense ranks) — the evidence SCALE_NEWOPS records
  * for decades where the DuckDB oracle is computationally out of reach
  * (the oracle's list-lambda cosine is ~10³× the codegen kernel).
  *
  * Usage: ScaleProbe <sfDir> <knn|mutual> [reps]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleProbe <sfDir> <knn|mutual> [reps]")
    val sfDir = args(0)
    val op = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.builder(GraftSession.cpus, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", v: java.lang.Double)
    if (op == "lshdecomp") {
      // Stage decomposition of dedup_lsh_eval vs dedup_lsh_eval_sampled:
      // times each term ONCE (cold, same order as the queries) so the
      // "which term does the sample actually shrink" claim is measured,
      // not inferred from end-to-end medians. Terms: the shared md5-LSH
      // candidate floor, the SAMPLED blocked truth, the sampled-candidate
      // precision verification, and the FULL blocked truth.
      import graft.operators.Dedup
      import graft.util.Stage.StageOps
      val docs = Tables.documents(spark, sfDir)
      def timed[A](f: => A): (Double, A) = {
        val t0 = System.nanoTime(); val a = f
        ((System.nanoTime() - t0) / 1e9, a)
      }
      val (tCand, (staged, cand)) = timed {
        val (st, c0) = Dedup.md5StagedAndCandidates(
          docs, "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4)
        val c = c0.stageShare(); c.count(); (st, c)
      }
      val nCand = cand.count()
      val (tSamp, sampleIds) = timed {
        val inCand = cand.select(col("a").as("doc_id"))
          .union(cand.select(col("b").as("doc_id"))).distinct()
        val s = docs.select(col("doc_id"))
          .join(inCand.withColumn("dc", lit(1)), Seq("doc_id"), "left")
          .withColumn("in_s",
            graft.operators.Curation.hashU(col("doc_id"), 91L) <
              when(col("dc").isNotNull, lit(0.5)).otherwise(lit(0.125)))
          .where(col("in_s")).select(col("doc_id").as("id")).stageShare()
        s.count(); s
      }
      val nSampled = sampleIds.count()
      val (tTruthS, nTruthS) = timed {
        Dedup.exactJaccardPairsBlockedSampled(
          docs, "doc_id", "text", sampleIds, shingleK = 3, threshold = 0.5,
          maxShingleDf = 20).count()
      }
      val (tCandTrue, nCandTrue) = timed {
        val sh = staged.select(col("id"), col("sh"))
        cand.join(sampleIds.select(col("id").as("a")), Seq("a"))
          .join(sh.select(col("id").as("a"), col("sh").as("sh_a")), Seq("a"))
          .join(sh.select(col("id").as("b"), col("sh").as("sh_b")), Seq("b"))
          .where(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double") >= 0.5)
          .count()
      }
      val (tTruthF, nTruthF) = timed {
        Dedup.exactJaccardPairsBlocked(
          docs, "doc_id", "text", shingleK = 3, threshold = 0.5,
          maxShingleDf = 20).count()
      }
      println(s"""{"op":"lshdecomp","sf":"${sfDir.split('/').last}",""" +
        s""""n_docs":${docs.count()},"t_cand":${fmt(tCand)},"n_cand":$nCand,""" +
        s""""t_sample":${fmt(tSamp)},"n_sampled":$nSampled,""" +
        s""""t_truth_sampled":${fmt(tTruthS)},"n_truth_sampled":$nTruthS,""" +
        s""""t_cand_true":${fmt(tCandTrue)},"n_cand_true":$nCandTrue,""" +
        s""""t_truth_full":${fmt(tTruthF)},"n_truth_full":$nTruthF}""")
      spark.stop()
      return
    }
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val k = 3
    val nCells = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    if (op == "incknn") {
      // cost ∝ delta evidence for ann_incremental_knn at the REAL scale
      // config (nCells = ⌈√n⌉, default 4096 cap): fold a 5% increment
      // into a persisted index of the other 95% and time it against the
      // full batch rebuild a pipeline owner would otherwise pay. The
      // equality term (incremental ≡ batch restricted to delta qids) is
      // checked as an exact edge-set match, not just counts.
      import graft.operators.Similarity
      val delta = emb.where(col("vec_id") % 20 === 0)
      val old = emb.where(col("vec_id") % 20 =!= 0)
      val nDelta = delta.count()
      val dir = graft.util.Scratch.dir("graft_ivfidx_probe_")
      val tIdx0 = System.nanoTime()
      Similarity.writeIvfIndex(old, dir, nCells = nCells)
      val tIdx = (System.nanoTime() - tIdx0) / 1e9
      val cm = Similarity.readIvfCentroids(spark, dir)
      def timedCount(df: => org.apache.spark.sql.DataFrame): (Double, Long) = {
        val t0 = System.nanoTime()
        val c = df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (sec, c)
      }
      val incReps = (1 to reps).map(_ => timedCount(
        Similarity.incrementalKnnJoin(delta, dir, k = k, nProbe = 4)))
      val batchReps = (1 to reps).map(_ => timedCount(
        Similarity.knnJoinIvfWithCentroids(emb, cm, k = k, nProbe = 4)))
      require(incReps.map(_._2).distinct.size == 1 &&
        batchReps.map(_._2).distinct.size == 1,
        s"non-deterministic rows: ${incReps.map(_._2)} / ${batchReps.map(_._2)}")
      // exact edge-set equality, both directions
      val incDf = Similarity.incrementalKnnJoin(delta, dir, k = k, nProbe = 4)
      val batchDf = Similarity
        .knnJoinIvfWithCentroids(emb, cm, k = k, nProbe = 4)
        .where(col("qid") % 20 === 0)
      val diff = incDf.exceptAll(batchDf).count() + batchDf.exceptAll(incDf).count()
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
      println(s"""{"op":"incknn","sf":"${sfDir.split('/').last}","n":$n,""" +
        s""""n_delta":$nDelta,"nCells":$nCells,"index_build_s":${fmt(tIdx)},""" +
        s""""inc_reps":[${incReps.map(r => fmt(r._1)).mkString(",")}],""" +
        s""""inc_median_s":${fmt(med(incReps.map(_._1)))},""" +
        s""""inc_rows":${incReps.head._2},""" +
        s""""batch_reps":[${batchReps.map(r => fmt(r._1)).mkString(",")}],""" +
        s""""batch_median_s":${fmt(med(batchReps.map(_._1)))},""" +
        s""""batch_rows":${batchReps.head._2},""" +
        s""""edge_set_diff":$diff,"equal":${diff == 0L}}""")
      spark.stop()
      return
    }
    if (op == "caprecall") {
      // the REAL scale config's cap cost: nCells ∝ √n (so cellSize ≈ √n)
      // with maxCellSize = args(3) (default the library's 4096) — the
      // complement of the catalog's ann_knn_cap_eval, which pins
      // nCells = 16 and therefore measures the undersized-quantizer
      // worst case. Edge recall of the capped graph vs the uncapped
      // exact-in-cell graph; timing reps cover the capped build + join.
      val cap = if (args.length > 3) args(3).toInt else 4096
      def graph(mcs: Int) =
        operators.Similarity
          .knnJoinIvf(emb, k = k, nCells = nCells, maxCellSize = mcs)
          .select(col("qid"), col("neighbor_id"))
      val uncapped = graph(0).persist()
      val nUncapped = uncapped.count()
      val timed = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val nHit = graph(cap).join(uncapped, Seq("qid", "neighbor_id")).count()
        ((System.nanoTime() - t0) / 1e9, nHit)
      }
      require(timed.map(_._2).distinct.size == 1,
        s"non-deterministic hit counts: ${timed.map(_._2)}")
      val nHit = timed.head._2
      val nCapped = graph(cap).count()
      println(s"""{"op":"caprecall","sf":"${sfDir.split('/').last}","n":$n,""" +
        s""""nCells":$nCells,"cap":$cap,"n_uncapped":$nUncapped,""" +
        s""""n_capped":$nCapped,"n_hit":$nHit,""" +
        s""""edge_recall":${fmt(nHit.toDouble / nUncapped)},""" +
        s""""reps":[${timed.map(t => fmt(t._1)).mkString(",")}]}""")
      spark.stop()
      return
    }
    def run(): (Double, Long) = {
      val df = op match {
        case "knn" =>
          operators.Similarity.knnJoinIvf(emb, k = k, nCells = nCells)
        case "mutual" =>
          import graft.util.Stage.StageOps
          val knn = operators.Similarity.knnJoinIvf(emb, k = k, nCells = nCells)
            .select(col("qid").as("a"), col("neighbor_id").as("b"))
            .stageCheckpoint()
          val mutual = knn
            .join(knn.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"))
            .where(col("a") < col("b"))
          operators.Curation.connectedComponentsStar(
            mutual, emb.select(col("vec_id").as("node")))
        case other => throw new IllegalArgumentException(s"unknown op: $other")
      }
      val t0 = System.nanoTime()
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (sec, rows)
    }
    val results = (1 to reps).map(_ => run())
    val rows = results.head._2
    // determinism invariant first: every rep must emit the same row count
    require(results.forall(_._2 == rows),
      s"non-deterministic row counts across reps: ${results.map(_._2)}")
    // invariants: knn emits AT MOST n*k ranked rows (a query whose probed
    // cells hold fewer than k other vectors legitimately emits fewer — so
    // equality is not required); CC labels every node exactly once.
    val expected = op match { case "knn" => n * k; case _ => n }
    val rowsOk = op match { case "knn" => rows <= expected; case _ => rows == expected }
    val shortfall = op match { case "knn" => expected - rows; case _ => 0L }
    val secs = results.map(_._1).sorted
    val median = secs(secs.length / 2)
    def f(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", v: java.lang.Double)
    println(s"""{"op":"$op","sf":"${sfDir.split('/').last}","n":$n,"nCells":$nCells,""" +
      s""""rows":$rows,"rows_ok":$rowsOk,"shortfall":$shortfall,""" +
      s""""reps":[${results.map(r => f(r._1)).mkString(",")}],"median":${f(median)}}""")
    spark.stop()
  }
}
