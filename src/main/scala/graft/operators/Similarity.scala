package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorExpressions._
import graft.util.Det
import graft.util.Stage.StageOps

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - `bruteForceTopK`: exact cosine top-k — broadcast the (small) query
  *    set against the full corpus; one scan, no shuffle of the corpus.
  *    The baseline and the verifier for the approximate paths.
  *  - `lshTopK`: random-hyperplane LSH — `tables` independent signatures
  *    of `bits` hyperplanes each; only same-signature buckets are joined.
  *    The 100 TB path: candidate generation is a hash join on the
  *    signature, cost ~|corpus| * avg_bucket instead of |Q| x |corpus|.
  *
  * Cosine is the native codegen expression [[graft.functions.VectorExpressions.CosineSim]]
  * (double accumulation in array order — deterministic).
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    * @param queries (qid, qvec) — expected small enough to broadcast. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      roundTo: Int = 6): DataFrame = {
    val scored = corpus.join(broadcast(queries), col("qid") =!= col(idCol))
      .withColumn("cos", Det.fixed(cosineSim(col("qvec"), col(vecCol)), roundTo))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol).as("neighbor_id"), col("cos"))
  }

  /** Embedding covariance matrix (upper triangle) — the preprocessing
    * pass of PCA/whitening over an embedding column: for every dimension
    * pair i ≤ j, population covariance
    * `cov_ij = E[x_i·x_j] − E[x_i]·E[x_j]`.
    *
    * Dataflow (round 6): ONE typed-Aggregator pass
    * ([[CovSuffStatsAggregator]]) — each partition accumulates all
    * d(d+1)/2 integerized pair sums in a flat long buffer, and only the
    * per-partition buffers merge, so nothing row-scaled is shuffled.
    * (The d² multiply per row is the inherent FLOP cost of a Gram
    * matrix; a specialized BLAS kernel would change the constant, not
    * the dataflow. The flat buffer is the scale bound: fine through
    * d ≈ a few hundred, d = 1024 is a 33 MB buffer — at that point
    * shard the pair space.)
    *
    * Sums are integerized per pair (exact BIGINT accumulation, same
    * rounding as [[graft.util.Det.toFixed]]), so the matrix is
    * bit-identical across engines and partitionings —
    * DuckDB-oracle-hashable.
    *
    * NOTE: EAGER since round 6 — constructing the result runs the
    * corpus-scale covariance action immediately (the same model-state-fit
    * boundary as [[choleskyWhitening]] and the k-means trainers) and
    * returns the d×d statistics as a driver-local relation. */
  def covarianceUpperTriangle(
      emb: DataFrame, vecCol: String, scale: Int = 7): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val f = math.pow(10.0, scale.toDouble)
    // ONE typed-aggregator pass: per-partition buffers of integerized
    // pair sums, merged on the driver — no n·d(d+1)/2 row explosion, no
    // pair-keyed shuffle (see [[CovSuffStatsAggregator]] for layout and
    // the bit-exactness contract). The result is d×d model state (2080
    // pairs at d = 64), returned as a local relation exactly like the
    // k-means centroid and whitening-matrix fits.
    val agg = new CovSuffStatsAggregator(scale)
    // Null vector ELEMENTS are unsupported (null ROWS contribute nothing,
    // matching posexplode-of-NULL): fail intentionally with a clear
    // message instead of the Seq[Double] encoder's opaque "Null value
    // appeared in non-nullable field" — a fixture regeneration that
    // introduces null elements should surface as a semantic decision,
    // not a deserializer crash. exists() short-circuits per row; cost is
    // one codegen'd pass over the array.
    val vRaw = col(vecCol).cast("array<double>")
    val vChecked = when(exists(vRaw, _.isNull), raise_error(lit(
        s"covarianceUpperTriangle: null element in '$vecCol' — null vector " +
          "elements are unsupported (drop or impute them upstream)")))
      .otherwise(vRaw)
    val buf = emb.select(vChecked.as("v"))
      .as[Seq[Double]].select(agg.toColumn).head()
    val d = buf(0).toInt
    val t = d * (d + 1) / 2
    val rows = for {
      i <- 0 until d
      j <- i until d
      p = i * d - i * (i - 1) / 2 + (j - i)
      n = buf(1 + p) if n > 0L
    } yield {
      val nd = n.toDouble
      val cov = (buf(1 + t + p).toDouble / f / nd) -
        (buf(1 + 2 * t + p).toDouble / f / nd) *
          (buf(1 + 3 * t + p).toDouble / f / nd)
      (i, j, n, cov)
    }
    rows.toDF("i", "j", "n", "cov")
  }

  /** Dominant eigenvector of the embedding covariance matrix (the top
    * principal component — PCA pruning / whitening direction) by POWER
    * ITERATION.
    *
    * The heavy stage is the covariance pass ([[covarianceUpperTriangle]],
    * one scan of the corpus); each subsequent iteration touches only the
    * d×d matrix (d = embedding dim, here 64), so the loop is O(d²) model
    * state and runs on the driver — nothing iterates over the corpus.
    *
    * Determinism (the PageRank recipe, [[graft.operators.Graph]]):
    * per-term products `cov·v` are integerized ([[Det.toFixed]]) and
    * summed exactly in BIGINT, the norm is a sqrt (correctly rounded per
    * IEEE-754) of an exact sum of integerized squares, and the normalized
    * vector is re-rounded to a fixed grid each iteration — so the whole
    * iterative fit is bit-identical across engines and partitionings,
    * and has a chained-CTE DuckDB oracle. No transcendentals beyond sqrt.
    *
    * Returns (i, v, eigval): the unit eigenvector estimate after `iters`
    * rounds (started from the all-ones vector) and the Rayleigh-quotient
    * eigenvalue estimate ‖Cv‖ from the final round. */
  def powerIterationTopEigen(
      emb: DataFrame, vecCol: String, iters: Int = 4,
      covScale: Int = 7, itScale: Int = 9): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = emb.sparkSession
    val f = math.pow(10.0, itScale.toDouble)
    // The corpus-scale work is the ONE covariance pass; everything after
    // is d×d model state (d = embedding dim, 4096 doubles at d = 64) and
    // runs on the DRIVER — the same boundary as the Cholesky factorization
    // in [[choleskyWhitening]]. The previous formulation iterated the d×d
    // matrix as dataflow: correct, but 4 iterations × (broadcast join +
    // agg + checkpoint) of per-job fixed cost for O(d²) flops.
    //
    // Determinism contract unchanged (the PageRank recipe): per-term
    // products are rounded to the itScale grid exactly as Spark's
    // round(x·10^k, 0) does — BigDecimal(double) HALF_UP at scale 0 —
    // and summed exactly in Long, so the driver loop is bit-identical to
    // both the old dataflow loop and the chained-CTE DuckDB oracle.
    // same non-finite/saturation contract as Spark round()+cast — see
    // CovSuffStatsAggregator.fixHalfUp (fixDouble mirrors round() alone,
    // which passes non-finite and >=2^52-integral doubles through)
    def fixLong(x: Double): Long = CovSuffStatsAggregator.fixHalfUp(x)
    def fixDouble(x: Double): Double = CovSuffStatsAggregator.fixHalfUpDouble(x)
    val upperRows = covarianceUpperTriangle(emb, vecCol, covScale)
      .select(col("i"), col("j"), col("cov")).collect()
    import spark.implicits._
    if (upperRows.isEmpty) // empty corpus: empty result, like the dataflow form
      return Seq.empty[(Int, Double, Double)].toDF("i", "v", "eigval")
    val d = upperRows.iterator.map(r => math.max(r.getInt(0), r.getInt(1))).max + 1
    val cov = Array.ofDim[Double](d, d)
    upperRows.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      cov(i)(j) = c
      cov(j)(i) = c
    }
    var v = Array.fill(d)(1.0)
    var norm = 0.0
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d) { i =>
        var acc = 0L
        var j = 0
        while (j < d) { acc += fixLong(cov(i)(j) * v(j) * f); j += 1 }
        acc.toDouble / f
      }
      val ss = w.foldLeft(0L)((a, x) => a + fixLong(x * x * f)).toDouble / f
      norm = math.sqrt(ss)
      v = w.map(x => fixDouble(x / norm * f) / f)
    }
    val eigval = fixDouble(norm * 1e6) / 1e6
    v.zipWithIndex.map { case (x, i) => (i, x, eigval) }.toSeq
      .toDF("i", "v", "eigval")
  }

  /** PCA APPLY: every vector's score on the dominant component learned by
    * [[powerIterationTopEigen]] — the projection pass that whitening /
    * dimensionality-pruning pipelines materialize. Corpus-scale work is
    * one explode + broadcast join against the d-row eigenvector relation
    * + one hash aggregate; per-term products are integerized so the
    * per-vector dot products are bit-identical cross-engine. */
  def pcaProject(
      emb: DataFrame, vecCol: String, idCol: String = "vec_id",
      iters: Int = 4, scale: Int = 9): DataFrame = {
    val f = math.pow(10.0, scale.toDouble)
    val v = powerIterationTopEigen(emb, vecCol, iters)
      .select(col("i").as("j"), col("v"))
    emb
      .select(col(idCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("j", "x")))
      .join(broadcast(v), Seq("j"))
      .groupBy(col(idCol))
      .agg((sum(Det.toFixed(col("x") * col("v"), scale))
        .cast("double") / lit(f)).as("score"))
  }

  /** Cholesky (Mahalanobis) WHITENING: y = L⁻¹(x − μ) where C + εI =
    * L·Lᵀ, so cov(y) = I — the decorrelation/conditioning pass in front
    * of similarity search and clustering.
    *
    * Division of labor at scale: the corpus-scale work is the ONE
    * covariance pass ([[covarianceUpperTriangle]]) and the projection
    * (explode + broadcast join on the d²-row whitening matrix + hash
    * aggregate, exactly [[pcaProject]]'s shape generalized to a matrix).
    * The d×d Cholesky factorization runs on the DRIVER — the same
    * "tiny model state on the driver" boundary as the GMM/k-means fits;
    * for d = 64 it is 4096 doubles, O(d³) ≈ 10⁵ flops. ε = epsRel ×
    * mean-variance regularizes rank-deficient covariance
    * (ill-conditioned directions get damped instead of exploding)
    * without shrinking ordinary directions.
    *
    * No DuckDB oracle (Cholesky is not expressible as reasonable SQL);
    * the contract is behavioral: the whitened covariance must be ≈ I,
    * asserted by the embed_whitening query + SimilaritySpec. */
  def whiten(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", epsRel: Double = 1e-6): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (mu, a) = whitenModel(emb, vecCol, epsRel)
    val d = mu.length
    val x = emb.select(col(idCol),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("j", "x")))
    // relational projection: y_i = Σ_j a_ij (x_j − μ_j)
    val rows = for (i <- 0 until d; j <- 0 to i if a(i)(j) != 0.0)
      yield (i, j, a(i)(j), mu(j))
    val am = rows.toDF("i", "j", "a", "mu")
    x.join(broadcast(am), Seq("j"))
      .groupBy(col(idCol), col("i"))
      .agg(sum(col("a") * (col("x") - col("mu"))).as("y"))
  }

  /** The whitening MODEL (μ, A = L⁻¹): every distributed input is
    * integerized (fixedAvg means, fixed-point covariance sums), and the
    * driver-side Cholesky + forward substitution is a fixed sequence of
    * IEEE ops on those exact inputs — so the model is bit-identical
    * across engines and partitionings, and admits an unrolled scalar
    * DuckDB oracle (embed_whitening_fixed). */
  def whitenModel(emb: DataFrame, vecCol: String = "embedding",
      epsRel: Double = 1e-6): (Array[Double], Array[Array[Double]]) = {
    // uniform dimensionality up front: heterogeneous vector lengths would
    // silently mis-size mu/C below (max(j)+1 overstates d for the short
    // vectors, whose missing dimensions then read as mean-shifted zeros)
    // null vectors: size() yields NULL — skip them (posexplode drops
    // those rows below anyway), don't NPE in the unboxing collect
    val dims = emb.select(size(col(vecCol)).as("d"))
      .where(col("d").isNotNull).distinct().collect()
      .map(_.getInt(0)).filter(_ >= 0)
    require(dims.nonEmpty, "whiten: input has no vectors")
    require(dims.length == 1,
      s"whiten: heterogeneous vector lengths ${dims.sorted.mkString(",")}")
    val d = dims.head
    val x = emb.select(
      posexplode(col(vecCol).cast("array<double>")).as(Seq("j", "x")))
    // integerized means (Det.fixedAvg): a raw avg() is merge-order-
    // dependent, which would make the whitening matrix — and every
    // projected vector — partitioning-dependent, unlike the covariance
    // pass which is already integerized
    val meanRows = x.groupBy(col("j"))
      .agg(Det.fixedAvg(col("x"), 9).as("m")).collect()
    val mu = new Array[Double](d)
    meanRows.foreach(r => mu(r.getInt(0)) = r.getDouble(1))
    val c = Array.ofDim[Double](d, d)
    covarianceUpperTriangle(emb, vecCol).collect().foreach { r =>
      val (i, j, v) = (r.getAs[Int]("i"), r.getAs[Int]("j"), r.getAs[Double]("cov"))
      c(i)(j) = v; c(j)(i) = v
    }
    // regularization RELATIVE to the data's scale (an absolute ε shrinks
    // low-variance directions: whitened variance is σ²/(σ²+ε))
    val eps = epsRel * (0 until d).map(i => c(i)(i)).sum / d
    (0 until d).foreach(i => c(i)(i) += eps)
    // lower-triangular Cholesky, then forward-substitute L·A = I → A = L⁻¹
    val l = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- 0 to i) {
      var s = c(i)(j)
      var k = 0
      while (k < j) { s -= l(i)(k) * l(j)(k); k += 1 }
      if (i == j) {
        // fail loudly on a non-PD pivot instead of letting sqrt(neg) or a
        // zero divisor silently turn every whitened vector into NaN
        require(s > 0.0,
          s"covariance + eps not positive definite at pivot $i (s=$s) — " +
            "raise epsRel (near-duplicate or constant dimensions)")
        l(i)(i) = math.sqrt(s)
      } else l(i)(j) = s / l(j)(j)
    }
    val a = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- 0 to i) {
      var s = if (i == j) 1.0 else 0.0
      var k = j
      while (k < i) { s -= l(i)(k) * a(k)(j); k += 1 }
      a(i)(j) = s / l(i)(i)
    }
    (mu, a)
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023): cluster
    * the corpus with a coarse quantizer, then inside each cluster drop
    * every vector that has a smaller-id neighbor above the cosine
    * threshold — keeping exactly one representative per near-duplicate
    * group that is a chain under the id order.
    *
    * Scale shape: cell assignment is row-local (argmax over broadcast
    * centroid literals — no shuffle); the pairwise stage is a self-join
    * keyed on the CELL, so cost is Σ|cell|² not |corpus|² — the
    * clustering IS the blocking structure, which is the whole point of
    * SemDeDup. Two scale guards (round 7):
    *
    *  - `nCells <= 0` (the default) sizes the quantizer as ⌈√n⌉ — the
    *    SemDeDup-standard choice that keeps expected in-cell pair work
    *    linear in the corpus (n/cells rows per cell × cells ≈ n·√n/n);
    *    a fixed constant is a demo setting, quadratic death at corpus
    *    scale. One count() action; the centroid fit already pays a pass.
    *  - `maxCellSize` bounds the WORST cell, not just the average: any
    *    cell above it is sub-split by a deterministic Knuth id-hash into
    *    ⌈|cell|/maxCellSize⌉ sub-cells, capping any single task's pair
    *    count at ~maxCellSize² regardless of quantizer skew (a hot cell
    *    with 30% of the corpus otherwise re-creates the all-pairs join).
    *    Near-duplicate pairs split across sub-cells are missed — the
    *    standard recall-for-boundedness trade, same family as the LSH
    *    band cap; the split count rides a broadcast of the (tiny)
    *    cell-size table, no extra corpus shuffle.
    *
    * Centroids are a deterministic Knuth-hash sample of the corpus (same
    * trick as [[ivfTopK]] — SQL-expressible, so buckets, pairs and drops
    * all reproduce in the DuckDB oracle; the sub-split hash is the same
    * SQL-expressible family).
    *
    * Returns one row per vector: (vec_id, cell, dup_of, kept) where
    * dup_of = smallest same-cell id above threshold (NULL if none). */
  def semanticDedup(
      corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = 0, maxCellSize: Int = 4096,
      seed: Long = 42L, roundTo: Int = 6): DataFrame = {
    require(maxCellSize >= 1, s"maxCellSize must be >= 1, got $maxCellSize")
    val k =
      if (nCells > 0) nCells
      else math.max(1, math.ceil(math.sqrt(corpus.count().toDouble)).toInt)
    val centroids = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(((col(idCol) * lit(2654435761L) + lit(seed)) % lit(4294967296L)).asc,
        col(idCol))
      .limit(k)
      .orderBy(col(idCol))
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1)) }
    // assignment through the TopCellsByCos codegen kernel (nProbe=1 →
    // argmax cell): bit-identical to the per-centroid literal argmax,
    // but one generated call per row — the literal form falls out of
    // whole-stage codegen at this method's auto ⌈√n⌉ sizing (see
    // VectorOps.topCellsByCos)
    val assigned = corpus
      .select(col(idCol), col(vecCol),
        graft.functions.VectorExpressions.topCellsByCos(
          col(vecCol), centroids.map(_._2.toArray), 1).getItem(0).as("cell"))
      .stageCheckpoint() // both sides of the self-join reuse the assignment
    // Hot-cell guard: per-cell counts are quantizer-sized (≤ k rows) —
    // broadcast them back and sub-split oversized cells row-locally.
    // seed+1 decorrelates the sub-split hash from the centroid-sample
    // hash (same id run through the same function would sort sub-cells
    // by the sampling order, not spread them).
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
    val cells = assigned.join(broadcast(sizes), Seq("cell"))
      .withColumn("nsub",
        greatest(lit(1L),
          ceil(col("cell_n").cast("double") / lit(maxCellSize.toDouble)).cast("long")))
      .withColumn("subcell",
        ((col(idCol) * lit(2654435761L) + lit(seed + 1L)) % lit(4294967296L)
          % col("nsub")).cast("int"))
    val l = cells.select(col("cell"), col("subcell"),
      col(idCol).as("a"), col(vecCol).as("va"))
    val r = cells.select(col("cell"), col("subcell"),
      col(idCol).as("b"), col(vecCol).as("vb"))
    // user-specified repartition on the join keys: the in-cell pair join
    // evaluates a cosine kernel per candidate pair (CPU ≫ bytes), the
    // exact stage shape AQE's byte-targeted coalescing under-parallelizes
    // (knnJoinIvf measured −78% at its 10× slice from this one change).
    // Here the certified config's pair volume is small enough that the
    // A/B is neutral (sf0.1 0.87→0.91, 10× 1.19→1.16 medians — noise),
    // but the repartition is what keeps the stage wide when a real
    // corpus drives subcell count ≫ shuffle width; skew-safe via the
    // subcell bound.
    val dups = l.repartition(col("cell"), col("subcell"))
      .join(r.repartition(col("cell"), col("subcell")), Seq("cell", "subcell"))
      .where(col("a") < col("b") &&
        Det.fixed(cosineSim(col("va"), col("vb")), roundTo) >= threshold)
      .groupBy(col("b"))
      .agg(min(col("a")).as("dup_of"))
    cells.select(col(idCol), col("cell"))
      .join(dups, col(idCol) === col("b"), "left")
      .select(col(idCol), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** Deterministic pseudo-random hyperplanes (seeded), as literal arrays —
    * shipped in the plan, no side channel. `private[graft]` so the oracle
    * SQL generator can embed the same constants. */
  private[graft] def hyperplanes(dim: Int, bits: Int, tables: Int, seed: Long): Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian())))
  }

  /** Signature of a vector under one table's hyperplanes: an int whose
    * bit b = sign(dot(vec, plane_b)) — a native codegen expression
    * ([[graft.functions.VectorExpressions.HyperplaneSig]]); the
    * interpreted-HOF formulation costs bits x |vec| Catalyst evals/row. */
  private def signature(vec: Column, planes: Seq[Array[Double]]): Column =
    graft.functions.VectorExpressions.hyperplaneSig(
      vec, planes.flatten.toIndexedSeq, planes.length)

  /** Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold),
    * exact all-pairs form — O(|corpus|^2), the oracle-checkable baseline;
    * cap the input or use [[lshNearDupPairs]] at scale. */
  def bruteForceNearDupPairs(
      corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      roundTo: Int = 6): DataFrame = {
    val l = corpus.select(col(idCol).as("a"), col(vecCol).as("va"))
    val r = corpus.select(col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, col("a") < col("b"))
      .withColumn("cos", Det.fixed(cosineSim(col("va"), col("vb")), roundTo))
      .where(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Embedding-cosine near-duplicate pairs at scale: candidates must share
    * a random-hyperplane signature in >=1 table (bucket self-join, never
    * all-pairs), then exact-cosine verified. Approximate by construction —
    * recall vs [[bruteForceNearDupPairs]] is asserted in SimilaritySpec. */
  def lshNearDupPairs(
      corpus: DataFrame, threshold: Double, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bits: Int = 4, tables: Int = 8, seed: Long = 42L,
      roundTo: Int = 6): DataFrame = {
    val planes = hyperplanes(dim, bits, tables, seed)
    val sigs = array(planes.zipWithIndex.map { case (ps, t) =>
      struct(lit(t).as("t"), signature(col(vecCol), ps).as("sig"))
    }: _*)
    val bucketed = corpus
      .select(col(idCol).as("id"), explode(sigs).as("s"))
      .select(col("id"), col("s.t").as("t"), col("s.sig").as("sig"))
      .persist() // staged signatures: both sides of the self-join reuse it
    val l = bucketed.select(col("t"), col("sig"), col("id").as("a"))
    val r = bucketed.select(col("t"), col("sig"), col("id").as("b"))
    // distinct over bare id pairs (16 B/row) BEFORE re-attaching the
    // 64-float vectors — the candidate shuffle must not carry payloads
    val cand = l.join(r, Seq("t", "sig"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    cand
      .join(vecs.select(col("id").as("a"), col("v").as("va")), Seq("a"))
      .join(vecs.select(col("id").as("b"), col("v").as("vb")), Seq("b"))
      .withColumn("cos", Det.fixed(cosineSim(col("va"), col("vb")), roundTo))
      .where(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer of
    * `nCells` centroids partitions the corpus into cells; each query
    * probes its `nProbe` nearest cells and ranks only those vectors.
    * Cost: |corpus| x nCells (assignment, one pass, done once) +
    * |Q| x (nProbe/nCells) x |corpus| (search) — the standard
    * recall/cost dial ANN services expose.
    *
    * Centroids here are a deterministic seeded sample of the corpus
    * (k-means would sharpen cells but adds an iterative fit; the IVF
    * plumbing — assignment, cell join, probe pruning — is identical).
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
      roundTo: Int = 6, refineIters: Int = 0): DataFrame = {
    val centroids: Array[(Int, Seq[Float])] =
      if (refineIters > 0)
        // Lloyd-refined coarse quantizer: tighter cells, better recall
        // at the same nProbe (see VecKMeans)
        VecKMeans.fit(corpus, vecCol, nCells, refineIters, seed, idCol)
          .centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      else corpus
        .select(col(idCol), col(vecCol))
        // seeded deterministic sample via a multiplicative (Knuth) hash —
        // SQL-expressible in the oracle, unlike xxhash64
        .orderBy(((col(idCol) * lit(2654435761L) + lit(seed)) % lit(4294967296L)).asc,
          col(idCol))
        .limit(nCells)
        .orderBy(col(idCol))
        .collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Float](1)) }
    val centDf = broadcast(
      corpus.sparkSession.createDataFrame(centroids.toIndexedSeq)
        .toDF("cell", "centroid"))

    // probe assignment = rank over the small broadcast cross join (|Q| x
    // nCells rows — tiny)
    def assign(df: DataFrame, id: Column, vec: Column, topN: Int): DataFrame = {
      val w = Window.partitionBy(id).orderBy(
        cosineSim(vec, col("centroid")).desc, col("cell"))
      df.crossJoin(centDf)
        .withColumn("cell_rank", row_number().over(w))
        .where(col("cell_rank") <= topN)
        .drop("centroid", "cell_rank")
    }

    // CORPUS cell assignment is row-local: argmax over the centroid
    // literals (max struct(cos, -cell) — same tie-break as the ranked
    // form: highest cos, then lowest cell). No cross join, no window, no
    // shuffle for the |corpus|-scale stage; this is the same kernel
    // shape as VecKMeans.cellExpr.
    val bestCell = array_max(array(centroids.map { case (i, c) =>
      struct(cosineSim(col(vecCol), typedlit(c)).as("cos"), lit(-i).as("negCell"))
    }: _*))
    val cells = corpus.select(col(idCol), col(vecCol),
      (-bestCell.getField("negCell")).as("cell"))
    val probes = assign(queries, col("qid"), col("qvec"), nProbe)
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .where(col("qid") =!= col(idCol))
      .withColumn("cos", Det.fixed(cosineSim(col("qvec"), col(vecCol)), roundTo))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol).as("neighbor_id"), col("cos"))
  }

  /** k-NN JOIN (the kNN-graph builder): every corpus vector gets its
    * approximate top-`k` cosine neighbors — the all-pairs generalization
    * of [[ivfTopK]], where the query set IS the corpus. The kNN graph
    * is the substrate of graph-based dedup/clustering (SemDeDup++,
    * HNSW-style index builds, agglomerative corpus maps).
    *
    * Exact all-pairs is |corpus|² kernels; here each vector probes its
    * `nProbe` nearest IVF cells, so candidates ≈ |corpus| · nProbe ·
    * avg-cell-size. BOTH per-row stages are shuffle-free: corpus cell
    * assignment is the row-local argmax over centroid literals, and the
    * probe list is a row-local sorted-literal-array slice (no |corpus| ×
    * nCells cross-join window — that trick is only free for small query
    * sets). The only corpus-scale movement is ONE hash shuffle of each
    * side on `cell`, then the per-query top-k window (partitioned by
    * query id, never global).
    *
    * With `nCells` fixed, avg-cell-size grows with the corpus and the
    * candidate table is |corpus|²·nProbe/nCells — measurably quadratic
    * (the 10× slice multiplied wall-clock ~40×, one sort task holding a
    * 625M-row rank window). `maxCellSize > 0` applies the same hot-cell
    * sub-split [[semanticDedup]] certifies: oversized cells are hashed
    * into ⌈cell/maxCellSize⌉ sub-cells, and each PROBE of a cell joins
    * exactly one deterministic sub-cell (hash of the query id), so
    * candidates are bounded at |corpus| · nProbe · maxCellSize — linear
    * at every scale. The trade-off is recall, not shape: a probed hot
    * cell contributes a 1/nsub deterministic sample of its vectors, so
    * neighbor lists stay dense top-k (sub-cells hold ≫ k vectors by
    * construction) but may rank farther neighbors in; small cells
    * (nsub = 1) are exact, so the cap is a no-op below maxCellSize.
    * `maxCellSize = 0` disables the cap (exact in-cell candidates;
    * quadratic — only for bounded corpora or full-probe baselines).
    * The DEFAULT is a finite 4096 (matching [[semanticDedup]]'s guard)
    * so callers who omit the parameter get the linear shape; pass 0
    * explicitly to opt in to the exact/quadratic baseline.
    * `refineIters > 0` (Lloyd-refined centroids) additionally evens out
    * cell sizes so fewer cells hit the cap at all.
    *
    * Deterministic and oracle-reproducible: Knuth-hash centroid sample,
    * (cos DESC, cell ASC) probe tie-break, (cos DESC, id ASC) rank
    * tie-break, seed+1 sub-split hash, integerized output cosine. */
  def knnJoinIvf(
      corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
      roundTo: Int = 6, refineIters: Int = 0,
      maxCellSize: Int = 4096): DataFrame = {
    require(nCells >= 1, "nCells >= 1")
    // validate BEFORE sampleCentroids — an invalid k/nProbe must fail
    // fast, not after paying the quantizer's corpus scan (ADVICE r10)
    require(k >= 1 && nProbe >= 1, "k, nProbe >= 1")
    require(maxCellSize >= 0, s"maxCellSize must be >= 0, got $maxCellSize")
    val centMatrix = sampleCentroids(
      corpus, idCol, vecCol, nCells, seed, refineIters)
    knnJoinIvfWithCentroids(
      corpus, centMatrix, k, idCol, vecCol, nProbe, seed, roundTo, maxCellSize)
  }

  /** The coarse-quantizer centroids [[knnJoinIvf]] trains: a seeded
    * Knuth-hash sample of the corpus (or `refineIters` Lloyd rounds over
    * it). Quantizer-sized model state — the collect is nCells × d. */
  private[graft] def sampleCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, seed: Long, refineIters: Int): Array[Array[Float]] =
    if (refineIters > 0)
      VecKMeans.fit(corpus, vecCol, nCells, refineIters, seed, idCol)
        .centroids.map(_.clone())
    else corpus
      .select(col(idCol), col(vecCol))
      .orderBy(((col(idCol) * lit(2654435761L) + lit(seed)) % lit(4294967296L)).asc,
        col(idCol))
      .limit(nCells)
      .orderBy(col(idCol))
      .collect()
      .map(r => r.getSeq[Float](1).toArray)

  /** [[knnJoinIvf]] at FIXED centroids — the core the incremental index
    * path shares with the batch build: identical assignment kernel,
    * hot-cell sub-split, candidate join and ranking, with the quantizer
    * supplied instead of trained. Batch ≡ incremental proofs run both
    * sides through here so only the data path differs. */
  /** The corpus-assignment stage of [[knnJoinIvfWithCentroids]] —
    * assignment cell + top-`nProbe` probe list in ONE codegen kernel
    * pass, stage-checkpointed. Exposed so eval sweeps that build
    * SEVERAL graphs over the same corpus and quantizer (the cap /
    * nProbe axis rows) can assign the corpus ONCE and share the staged
    * frame across variants: the top-n probe list is ordered
    * (cos DESC, cell ASC), so any variant with a smaller nProbe reads
    * its probes as a PREFIX slice of the shared list — bit-identical
    * to re-running the kernel at the smaller n. */
  def assignIvfCells(corpus: DataFrame, centMatrix: Array[Array[Float]],
      nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val topCells = graft.functions.VectorExpressions
      .topCellsByCos(col(vecCol), centMatrix, nProbe)
    corpus
      .select(col(idCol), col(vecCol), topCells.as("_tc"))
      .select(col(idCol), col(vecCol), col("_tc").getItem(0).as("cell"),
        col("_tc").as("probe_cells"))
      .stageCheckpoint()
  }

  def knnJoinIvfWithCentroids(
      corpus: DataFrame, centMatrix: Array[Array[Float]], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = 4, seed: Long = 42L,
      roundTo: Int = 6, maxCellSize: Int = 4096,
      probeIds: Option[DataFrame] = None,
      stagedCells: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k, nProbe >= 1")
    require(maxCellSize >= 0, s"maxCellSize must be >= 0, got $maxCellSize")
    // corpus side: assignment cell + probe list in ONE codegen kernel
    // pass (TopCellsByCos) — bit-identical to the former per-centroid
    // literal expression trees (array_max(struct(cos,-cell)) /
    // array_sort(struct(-cos,cell))), but a single generated call per
    // row: the literal form built nCells separate cosine subtrees and
    // fell out of whole-stage codegen at the IVF scale sizing
    // nCells = ⌈√n⌉ (measured >150 s vs ~8 s per build at n=200k).
    // Staged once — it feeds both the candidate table and the probe
    // side. `stagedCells` (an [[assignIvfCells]] frame at nProbe' >=
    // nProbe) substitutes the shared stage; the probe explode below
    // slices the first nProbe entries, so a shared wider list is
    // bit-identical to a fresh kernel pass at this nProbe.
    val cells0 = stagedCells.getOrElse(
      assignIvfCells(corpus, centMatrix, nProbe, idCol, vecCol))
    // hot-cell guard (the semanticDedup sub-split): per-cell counts are
    // quantizer-sized (≤ nCells rows) — broadcast them back, sub-split
    // oversized cells row-locally, and give every probe one hashed
    // sub-cell, bounding candidates at |corpus|·nProbe·maxCellSize.
    // seed+1 decorrelates the sub-split hash from the centroid sample.
    def subHash(id: Column): Column =
      ((id * lit(2654435761L) + lit(seed + 1L)) % lit(4294967296L)
        % col("nsub")).cast("int")
    // stageShare: the quantizer-sized count agg has TWO consumers (the
    // candidate side and the probe side) — without the share each plans
    // its own scan+agg of the staged corpus frame (round-9 lesson)
    val nsubs =
      if (maxCellSize <= 0) null
      else broadcast(cells0.groupBy(col("cell"))
        .agg(greatest(lit(1L),
          ceil(count(lit(1)).cast("double") / lit(maxCellSize.toDouble))
            .cast("long")).as("nsub")).stageShare())
    val cells =
      if (maxCellSize <= 0) cells0.drop("probe_cells").withColumn("subcell", lit(0))
      else cells0.drop("probe_cells").join(nsubs, Seq("cell"))
        .withColumn("subcell", subHash(col(idCol))).drop("nsub")
    // probe side: the SAME kernel output — top-nProbe cells by
    // (cos DESC, cell ASC), already carried on the staged frame, so the
    // probe pass costs an explode, not a second nCells-cosine sweep.
    // probeIds (a 1-column id frame, expected small) restricts the
    // QUERY side only — the candidate side stays the full corpus — so
    // a sampled eval pays |sample|·nProbe·cellSize candidate work
    // instead of the full graph's |corpus|·nProbe·cellSize (the trick
    // that makes the uncapped exact-in-cell baseline affordable at any
    // decade: quadratic in cellSize only over the sample).
    val probeSrc = probeIds match {
      case Some(ids) => cells0.join(
        broadcast(ids.select(col(ids.columns.head).as(idCol))), Seq(idCol))
      case None => cells0
    }
    val probes0 = probeSrc
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        explode(slice(col("probe_cells"), 1, nProbe)).as("cell"))
    val probes =
      if (maxCellSize <= 0) probes0.withColumn("subcell", lit(0))
      else probes0.join(nsubs, Seq("cell"))
        .withColumn("subcell", subHash(col("qid"))).drop("nsub")
    // USER-SPECIFIED repartition on the join keys: the candidate join's
    // per-row cost is a 64-float cosine kernel, so its CPU:bytes ratio
    // is extreme — AQE's coalescing (parallelismFirst targets
    // minPartitionSize=1m of BYTES) folded the whole mid-scale job to
    // 16 tasks on 32 cores (measured: 10× slice ran SLOWER than 100×,
    // 9.3 s vs 7.4 s, tasks 16 vs 174). A user repartition is exempt
    // from AQE coalescing, keeps the stage at the configured shuffle
    // width, and is skew-safe here because subcell keys are
    // maxCellSize-bounded by construction. A/B 5-rep medians:
    // 10× slice 9.29 → 2.07 (and the composing mutual-kNN clustering
    // 10.67 → 5.38); sf0.1 1.36 → 1.14; 100× flat (7.36 → 7.59 /
    // 13.18 → 12.17 — the 32-wide shuffle was already saturated there).
    // Decades are now monotone with log-log slopes 0.41 / 0.29.
    val scored = cells.repartition(col("cell"), col("subcell"))
      .join(probes.repartition(col("cell"), col("subcell")),
        Seq("cell", "subcell"))
      .where(col("qid") =!= col(idCol))
      .withColumn("cos", Det.fixed(cosineSim(col("qvec"), col(vecCol)), roundTo))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol).as("neighbor_id"), col("cos"))
  }

  /** Persist an IVF INDEX of a frozen corpus — the ingest-pipeline
    * sibling of [[graft.operators.Dedup.writeSignatureTableMd5]]: a
    * continuously-fed training corpus maintains its ANN structure by
    * folding each crawl increment into this index instead of rebuilding
    * from the raw vectors. Layout:
    *  - `<dir>/centroids`: the trained coarse quantizer (cell → vector),
    *    quantizer-sized;
    *  - `<dir>/cells`: the assignment table (id, vector, cell), parquet
    *    PARTITIONED BY (cell, _batch_id) — cell first, so a delta's
    *    candidate join prunes its read to the probed cells' files
    *    instead of scanning the corpus; `_batch_id` (−1 for the base
    *    build and batch-path appends) is the EXACTLY-ONCE key of the
    *    streaming ingest: [[appendIvfDelta]] at a concrete batch id is
    *    a dynamic-partition overwrite of that batch's own partitions,
    *    so a replayed micro-batch replaces itself instead of
    *    double-appending.
    * Assignment uses the same TopCellsByCos kernel as [[knnJoinIvf]]'s
    * cells0, so an index written here is bit-compatible with a batch
    * build at the same centroids. */
  def writeIvfIndex(
      corpus: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = 16, seed: Long = 42L, refineIters: Int = 0): Unit = {
    val cm = sampleCentroids(corpus, idCol, vecCol, nCells, seed, refineIters)
    val spark = corpus.sparkSession
    import spark.implicits._
    cm.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val cellOf = graft.functions.VectorExpressions
      .topCellsByCos(col(vecCol), cm, 1).getItem(0)
    // CLUSTER the partitioned write by its partition key (guide §6):
    // a partitionBy write emits one file per key per input task, so an
    // unclustered corpus write produces nTasks × cellsPerTask tiny
    // files — quadratic-ish file growth that every later pruned read,
    // health scan and rebuild pays to open. The repartition costs one
    // exchange of the rows being written and lands each cell in exactly
    // one task → one file per (cell, _batch_id).
    corpus.select(col(idCol), col(vecCol), cellOf.as("cell"),
        lit(-1L).as("_batch_id"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell", "_batch_id")
      .parquet(s"$dir/cells")
  }

  /** GENERATION resolution for a persisted IVF index (round 12 — the
    * atomic-rebuild substrate): an index dir carrying a `_CURRENT`
    * pointer file serves generation `gen_<n>/` under it; the original
    * flat [[writeIvfIndex]] layout (no pointer) serves the dir itself.
    * Every reader and the delta fold route through this, so a
    * [[rebuildIvfIndex]] becomes visible to ALL consumers at the single
    * atomic pointer move and a crash mid-rebuild leaves the old
    * generation untouched and live (the version-hint pattern of table
    * formats, applied to the index). */
  private[graft] def indexRoot(dir: String): String = {
    val g = currentGen(dir)
    if (g < 0) dir else s"$dir/gen_$g"
  }

  /** The live generation number (−1 = flat pre-rebuild layout). */
  private[graft] def currentGen(dir: String): Long = {
    val ptr = java.nio.file.Paths.get(dir, "_CURRENT")
    if (java.nio.file.Files.exists(ptr))
      new String(java.nio.file.Files.readAllBytes(ptr),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    else -1L
  }

  /** The persisted quantizer, ordered by cell — nCells × d model state. */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Float]] =
    spark.read.parquet(s"${indexRoot(dir)}/centroids").orderBy(col("cell"))
      .collect().map(_.getSeq[Float](1).toArray)

  /** [[readIvfCentroids]] plus the generation it was read from — the
    * form a caller that intends to PASS the centroids back into
    * [[appendIvfDelta]]/[[incrementalKnnJoin]] should use (round 13,
    * ADVICE): carrying the generation id alongside the centroids turns
    * the caller-owned same-generation contract into an ENFORCED one —
    * the consumer asserts the id still matches the live pointer before
    * assigning or writing, so centroids read before a concurrent
    * rebuild can never write stale-quantizer cells into the new
    * generation. The pair is read from ONE resolved root, so gen and
    * centroids are mutually consistent by construction. */
  def readIvfCentroidsWithGen(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Array[Array[Float]]) = {
    val g = currentGen(dir)
    val root = if (g < 0) dir else s"$dir/gen_$g"
    (g, spark.read.parquet(s"$root/centroids").orderBy(col("cell"))
      .collect().map(_.getSeq[Float](1).toArray))
  }

  /** Enforce the shared-centroids same-generation contract: when a
    * caller passes pre-read `centroids` WITH the generation they were
    * read from, assert that generation is still live. */
  private def requireSameGen(dir: String, centroidsGen: Option[Long],
      centroids: Option[Array[Array[Float]]]): Unit =
    for (g <- centroidsGen if centroids.isDefined) {
      val live = currentGen(dir)
      require(g == live,
        s"stale quantizer: centroids were read at generation $g but the " +
          s"live generation of $dir is now $live — re-read via " +
          "readIvfCentroidsWithGen (a rebuild swapped _CURRENT since)")
    }

  /** ACT on the [[ivfIndexHealth]] rebuild verdict (VERDICT r11 #1):
    * re-train the coarse quantizer over everything the index currently
    * holds (base build ∪ every folded delta — the grown corpus),
    * re-assign all rows, and swap the new generation live ATOMICALLY.
    *
    * Swap protocol (crash-safe by construction, spec-pinned): the new
    * generation `gen_<g+1>/{centroids,cells}` is written COMPLETELY
    * beside the live one, then a `_CURRENT.tmp` pointer file is moved
    * onto `_CURRENT` with `ATOMIC_MOVE` — the only mutation readers can
    * observe. A crash at ANY earlier point (mid-write, between writes,
    * before the move) leaves `_CURRENT` — and so every reader — on the
    * old generation; a retry simply rewrites the partial generation
    * (mode overwrite) and swaps. Only after the pointer lands is the
    * superseded generation reclaimed (best-effort — a leaked dir is
    * garbage, never wrong data).
    *
    * `_batch_id` is PRESERVED through re-assignment, so the streaming
    * exactly-once contract survives a mid-stream rebuild: a replayed
    * micro-batch still dynamic-overwrites its own partitions in the new
    * generation. Determinism: the quantizer trains on the index's own
    * (id, vector) rows with the seeded Knuth-hash sample (or seeded
    * Lloyd refinement), so rebuilding twice from the same contents
    * yields bit-identical generations — what makes a replayed
    * rebuild-then-crash batch converge ([[graft.streaming.AnnIngest]]).
    *
    * `nCells = 0` keeps the current quantizer size (the steady-state
    * rebuild); a grown corpus can pass the re-derived ⌈√n⌉.
    * `extraTraining` adds not-yet-folded rows (the streaming ingest's
    * triggering batch) to the quantizer TRAINING corpus only — the new
    * generation's cells still hold exactly the index's own rows, so the
    * later `_batch_id`-keyed fold of those rows stays exactly-once; the
    * payoff is that the batch that tripped the drift gauge gets a
    * quantizer that already knows its content.
    * `beforeSwap` is a test-only failpoint between the full generation
    * write and the pointer move. */
  def rebuildIvfIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      nCells: Int = 0, seed: Long = 42L, refineIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      extraTraining: Option[DataFrame] = None,
      beforeSwap: () => Unit = () => ()): Unit = {
    require(nCells >= 0, s"nCells must be >= 0 (0 = keep), got $nCells")
    val root = indexRoot(dir)
    val corpus = spark.read.parquet(s"$root/cells")
      .select(col(idCol), col(vecCol), col("_batch_id"))
    val n = if (nCells > 0) nCells
      else readIvfCentroids(spark, dir).length
    val trainSet = extraTraining match {
      case Some(x) => corpus.select(col(idCol), col(vecCol))
        .unionByName(x.select(col(idCol), col(vecCol)))
      case None => corpus
    }
    val cm = sampleCentroids(trainSet, idCol, vecCol, n, seed, refineIters)
    val gen = currentGen(dir) + 1L
    val next = s"$dir/gen_$gen"
    import spark.implicits._
    cm.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$next/centroids")
    val cellOf = graft.functions.VectorExpressions
      .topCellsByCos(col(vecCol), cm, 1).getItem(0)
    // clustered write: the rebuild re-assigns the WHOLE grown corpus, so
    // an unclustered write multiplies files by the read parallelism
    // (measured 40 → 159 files at sf0.1) and every post-rebuild pruned
    // read re-opens them — repartition lands one file per live
    // (cell, _batch_id) pair (see writeIvfIndex)
    corpus.select(col(idCol), col(vecCol), cellOf.as("cell"), col("_batch_id"))
      .repartition(col("cell"), col("_batch_id"))
      .write.mode("overwrite").partitionBy("cell", "_batch_id")
      .parquet(s"$next/cells")
    beforeSwap()
    val tmp = java.nio.file.Paths.get(dir, "_CURRENT.tmp")
    java.nio.file.Files.write(tmp,
      gen.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, "_CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // reclaim the superseded generation — AFTER the swap, best-effort
    try {
      if (root == dir) {
        graft.util.Scratch.deleteRecursively(
          java.nio.file.Paths.get(dir, "centroids"))
        graft.util.Scratch.deleteRecursively(
          java.nio.file.Paths.get(dir, "cells"))
      } else graft.util.Scratch.deleteRecursively(
        java.nio.file.Paths.get(root))
    } catch { case scala.util.control.NonFatal(_) => }
  }

  /** Fold a delta's ASSIGNMENTS into the persisted index — the step
    * that completes the ingest loop ([[incrementalKnnJoin]] reads the
    * index; this grows it, so the NEXT increment sees old ∪ delta).
    * Assignment runs the same kernel at the frozen centroids and the
    * rows APPEND into the cell-partitioned parquet: only the delta's
    * cells gain files, nothing is rewritten, and the index stays
    * bit-compatible with a fresh [[writeIvfIndex]] of the union at the
    * same centroids (spec-pinned: a second increment folded after an
    * append equals the batch build over all three parts). */
  /** @param centroids pass the CURRENT generation's quantizer (a
    *        [[readIvfCentroids]] result) to skip re-reading it — for
    *        callers that fold right after another read of the same
    *        generation (the streaming ingest loop does one centroid
    *        read per micro-batch instead of two). The caller owns the
    *        same-generation invariant; omit when a rebuild could have
    *        swapped the pointer since the centroids were read.
    * @param centroidsGen the generation `centroids` was read from
    *        ([[readIvfCentroidsWithGen]]) — when given, the invariant is
    *        ASSERTED against the live pointer instead of trusted. */
  def appendIvfDelta(delta: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      batchId: Option[Long] = None,
      centroids: Option[Array[Array[Float]]] = None,
      centroidsGen: Option[Long] = None): Unit = {
    requireSameGen(dir, centroidsGen, centroids)
    val cm = centroids.getOrElse(readIvfCentroids(delta.sparkSession, dir))
    // resolve the live generation ONCE — assignment and write must hit
    // the same generation the centroids came from
    val root = indexRoot(dir)
    val cellOf = graft.functions.VectorExpressions
      .topCellsByCos(col(vecCol), cm, 1).getItem(0)
    // clustered write: one file per (cell, _batch_id) — see writeIvfIndex
    val assigned = delta.select(col(idCol), col(vecCol), cellOf.as("cell"),
        lit(batchId.getOrElse(-1L)).as("_batch_id"))
      .repartition(col("cell"))
    batchId match {
      // streaming ingest: EXACTLY-ONCE per micro-batch — a dynamic
      // overwrite keyed by the batch's own partitions, so replaying a
      // crashed batch replaces its rows instead of duplicating them
      // (the standard idempotent-sink recipe applied to the index)
      case Some(_) => assigned.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell", "_batch_id").parquet(s"$root/cells")
      case None => assigned.write.mode("append")
        .partitionBy("cell", "_batch_id").parquet(s"$root/cells")
    }
  }

  /** INDEX-HEALTH gauge for the persisted IVF index — the rebuild
    * trigger that completes the ingest lifecycle (VERDICT r10 #1):
    * [[appendIvfDelta]] grows cells under FROZEN centroids forever, so a
    * drifting ingest distribution silently degrades cell balance and —
    * through the hot-cell sub-split cap — recall, with nothing measuring
    * when to re-train the quantizer. This operator is that gauge. ONE
    * row with three signal groups:
    *
    *  - CELL BALANCE: `max_cell`, `cell_skew` = max_cell · nCells /
    *    n_indexed (1.0 = perfectly even; empty cells inflate it, as they
    *    should — they are wasted quantizer capacity), and `n_oversized`
    *    = cells past the sub-split threshold. A skewed index caps more
    *    cells, and every capped probe loses ~cap/cellSize recall.
    *  - ASSIGNMENT-RESIDUAL DRIFT: mean top-1 cosine of the DELTA at the
    *    frozen centroids vs the same statistic over the indexed corpus
    *    (`base_fit` − `delta_fit` = `fit_drift`, the vector sibling of
    *    stats_psi_drift). In-distribution deltas fit like the corpus
    *    (drift ≈ 0); a shifted ingest fits strictly worse.
    *  - VERDICT: `rebuild_due_balance` (cell_skew > skewThreshold),
    *    `rebuild_due_drift` (fit_drift > driftThreshold), `rebuild` =
    *    either. IndexHealthSpec pins the contract end-to-end: a shifted
    *    delta trips the trigger, an in-distribution one does not, and a
    *    post-rebuild (re-trained quantizer) recovers the kNN recall the
    *    frozen index lost.
    *
    * Scale shape: the index side is ONE column-pruned scan of the cells
    * table with map-side partial aggregation down to a quantizer-sized
    * per-cell frame — the periodic ANALYZE-style pass an index owner
    * schedules, NOT per-increment work (the delta side alone is
    * per-increment-sized). Fits recompute the argmax cosine in the same
    * TopCellsByCos-family kernel rather than joining the stored cell to
    * its centroid — assignment IS the argmax, so the values are
    * identical and the plan needs no join. All means are exact integer
    * sums of per-row integerized cosines divided as pure IEEE doubles —
    * bit-identical across engines and partitionings. */
  def ivfIndexHealth(
      delta: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCellSize: Int = 4096, skewThreshold: Double = 4.0,
      driftThreshold: Double = 0.02, roundTo: Int = 6): DataFrame = {
    require(maxCellSize >= 1, s"maxCellSize must be >= 1, got $maxCellSize")
    val spark = delta.sparkSession
    val cm = readIvfCentroids(spark, indexDir)
    val nCells = cm.length
    val f = math.pow(10.0, roundTo.toDouble)
    def fitI(vec: Column): Column = Det.toFixed(
      graft.functions.VectorExpressions.topCosByCentroids(vec, cm), roundTo)
    val perCell = spark.read.parquet(s"${indexRoot(indexDir)}/cells")
      .select(col("cell"), fitI(col(vecCol)).as("fit_i"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("fit_i")).as("s"))
    val idxAgg = perCell.agg(
      sum(col("n")).as("n_indexed"),
      max(col("n")).as("max_cell"),
      count(lit(1)).as("n_occupied"),
      sum(when(col("n") > maxCellSize, 1L).otherwise(0L)).as("n_oversized"),
      sum(col("s")).as("s_indexed"))
    val dAgg = delta.select(fitI(col(vecCol)).as("fit_i"))
      .agg(count(lit(1)).as("n_delta"), sum(col("fit_i")).as("s_delta"))
    // two 1-row aggregates — the broadcast cross join is param-table shaped
    broadcast(idxAgg).crossJoin(dAgg)
      .select(
        lit(nCells).as("n_cells"),
        col("n_occupied"), col("n_indexed"), col("n_delta"),
        col("max_cell"), col("n_oversized"),
        (col("max_cell").cast("double") * lit(nCells.toDouble) /
          col("n_indexed")).as("cell_skew"),
        (col("s_indexed").cast("double") / (col("n_indexed") * lit(f)))
          .as("base_fit"),
        (col("s_delta").cast("double") / (col("n_delta") * lit(f)))
          .as("delta_fit"))
      // empty-delta guard (ADVICE r11): n_delta = 0 makes s_delta (and
      // so delta_fit) NULL, and a bare base_fit − delta_fit would
      // null-propagate through the drift verdict into `rebuild` — an
      // empty ingest tick must read as a DEFINED no-drift row, not an
      // ambiguous one. Balance signals are delta-independent and stay.
      .withColumn("fit_drift",
        when(col("n_delta") === 0L, lit(0.0))
          .otherwise(col("base_fit") - col("delta_fit")))
      .withColumn("rebuild_due_balance", col("cell_skew") > skewThreshold)
      .withColumn("rebuild_due_drift", col("fit_drift") > driftThreshold)
      .withColumn("rebuild",
        col("rebuild_due_balance") || col("rebuild_due_drift"))
  }

  /** INCREMENTAL kNN-graph maintenance: fold a `delta` of new vectors
    * into a persisted [[writeIvfIndex]] index — assign ONLY the delta
    * (frozen centroids), then build the delta × (corpus ∪ delta) kNN
    * edges through the same cell join as the batch build. Cost ∝ delta:
    *  - assignment runs the kernel over |delta| rows;
    *  - the distinct probed-cell list is quantizer-bounded (≤ nCells
    *    ints — model-state collect), and the index read is filtered to
    *    those cells with partition-literal pruning, so the corpus-side
    *    scan touches only the probed cells' parquet files (≤ |delta| ·
    *    nProbe cells of ~|corpus|/nCells rows each), never the corpus;
    *  - per-cell sub-split counts are computed on that pruned read, and
    *    restriction by cell preserves each probed cell's FULL population,
    *    so nsub (and the sub-cell hash) match the batch build exactly.
    * Result contract (spec-proven, and the ann_incremental_knn oracle
    * row certifies it end-to-end): hash-identical to
    * [[knnJoinIvfWithCentroids]] over corpus ∪ delta at the frozen
    * centroids, restricted to qid ∈ delta. Existing vectors' neighbor
    * lists are NOT revisited — the standard IVF-ingest contract (stale
    * back-edges heal on the next periodic rebuild; the forward edges a
    * curation pass reads for the increment are exact-as-of-now). */
  def incrementalKnnJoin(
      delta: DataFrame, indexDir: String, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = 4, seed: Long = 42L,
      roundTo: Int = 6, maxCellSize: Int = 4096,
      centroids: Option[Array[Array[Float]]] = None,
      centroidsGen: Option[Long] = None): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k, nProbe >= 1")
    require(maxCellSize >= 0, s"maxCellSize must be >= 0, got $maxCellSize")
    val spark = delta.sparkSession
    import graft.util.Stage.StageOps
    // `centroids`: same-generation contract as [[appendIvfDelta]] — the
    // ingest loop reads the quantizer once per micro-batch and shares it
    // between the edge pass and the fold; `centroidsGen` (when given)
    // asserts the generation is still live instead of trusting the caller
    requireSameGen(indexDir, centroidsGen, centroids)
    val cm = centroids.getOrElse(readIvfCentroids(spark, indexDir))
    val topCells = graft.functions.VectorExpressions
      .topCellsByCos(col(vecCol), cm, nProbe)
    // lineage cut + the probed-cell collect in ONE job (round 13,
    // Stage.checkpointWith): the distinct/collect computes every delta
    // partition anyway, so it doubles as the checkpoint's materializing
    // action — the eager checkpoint's own job is saved. The collect is
    // ≤ nCells distinct ints (quantizer-sized model state): the literal
    // IN-list is what lets the parquet source prune to the probed
    // partitions — a join-based filter would scan every cell file.
    val (deltaCells, probed) = graft.util.Stage.checkpointWith(delta
      .select(col(idCol), col(vecCol), topCells.as("_tc"))
      .select(col(idCol), col(vecCol), col("_tc").getItem(0).as("cell"),
        col("_tc").as("probe_cells")))(
      _.select(explode(col("probe_cells")).as("cell")).distinct()
        .collect().map(_.getInt(0)))
    // anti-join the pruned read against the delta's OWN ids: a no-op
    // under the disjoint-delta contract, but it makes re-folding
    // idempotent — a streaming replay whose crashed attempt already
    // appended this batch must not count the delta rows twice (once
    // from the index read, once from the deltaCells union). Broadcast:
    // the delta is increment-sized by definition.
    val existing = spark.read.parquet(s"${indexRoot(indexDir)}/cells")
      .where(col("cell").isin(probed.toIndexedSeq.map(Int.box): _*))
      .select(col(idCol), col(vecCol), col("cell"))
      .join(broadcast(deltaCells.select(col(idCol))), Seq(idCol), "left_anti")
    // every delta row's own cell is in its probe list, so the cell
    // restriction keeps ALL delta rows; per probed cell the union holds
    // the cell's full (old ∪ delta) population — nsub matches batch
    val cand0 = existing.unionByName(
      deltaCells.select(col(idCol), col(vecCol), col("cell")))
    def subHash(id: Column): Column =
      ((id * lit(2654435761L) + lit(seed + 1L)) % lit(4294967296L)
        % col("nsub")).cast("int")
    // same two-consumer share as the batch build: the count agg feeds
    // both the candidate and probe sides
    val nsubs =
      if (maxCellSize <= 0) null
      else broadcast(cand0.groupBy(col("cell"))
        .agg(greatest(lit(1L),
          ceil(count(lit(1)).cast("double") / lit(maxCellSize.toDouble))
            .cast("long")).as("nsub")).stageShare())
    val cells =
      if (maxCellSize <= 0) cand0.withColumn("subcell", lit(0))
      else cand0.join(nsubs, Seq("cell"))
        .withColumn("subcell", subHash(col(idCol))).drop("nsub")
    val probes0 = deltaCells
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        explode(col("probe_cells")).as("cell"))
    val probes =
      if (maxCellSize <= 0) probes0.withColumn("subcell", lit(0))
      else probes0.join(nsubs, Seq("cell"))
        .withColumn("subcell", subHash(col("qid"))).drop("nsub")
    val scored = cells.repartition(col("cell"), col("subcell"))
      .join(probes.repartition(col("cell"), col("subcell")),
        Seq("cell", "subcell"))
      .where(col("qid") =!= col(idCol))
      .withColumn("cos", Det.fixed(cosineSim(col("qvec"), col(vecCol)), roundTo))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol).as("neighbor_id"), col("cos"))
  }

  /** Approximate top-k: candidates share an LSH signature in >=1 table. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bits: Int = 10, tables: Int = 6, seed: Long = 42L,
      roundTo: Int = 6): DataFrame = {
    val planes = hyperplanes(dim, bits, tables, seed)
    def sigs(vec: Column): Column =
      array(planes.zipWithIndex.map { case (ps, t) =>
        struct(lit(t).as("t"), signature(vec, ps).as("sig"))
      }: _*)

    val c = corpus
      .select(col(idCol), col(vecCol), explode(sigs(col(vecCol))).as("s"))
      .select(col(idCol), col(vecCol), col("s.t").as("t"), col("s.sig").as("sig"))
    val q = queries
      .select(col("qid"), col("qvec"), explode(sigs(col("qvec"))).as("s"))
      .select(col("qid"), col("qvec"), col("s.t").as("t"), col("s.sig").as("sig"))

    val cand = c.join(broadcast(q), Seq("t", "sig"))
      .where(col("qid") =!= col(idCol))
      .select(col("qid"), col("qvec"), col(idCol), col(vecCol))
      .distinct()
      .withColumn("cos", Det.fixed(cosineSim(col("qvec"), col(vecCol)), roundTo))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col(idCol))
    cand
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol).as("neighbor_id"), col("cos"))
  }

  /** Product-quantization (PQ) approximate top-k — the memory-bounded ANN
    * scale path: each vector is encoded as `subspaces` small codes
    * (argmin-L2 codeword per sub-slice), and query-to-vector distance is
    * approximated by ADC (asymmetric distance computation): the query
    * precomputes its L2² to every codeword of every subspace (a
    * |Q| x subspaces x codebookSize table, broadcast), and a candidate's
    * distance is the SUM of the partials its codes select — the corpus
    * is never touched in float space at query time. At 100 TB the
    * encoded corpus is (subspaces x log2(codebookSize)) bits/vector
    * (here 4 x 4 = 16 bits vs 64 x 32 float bits = 128x compression) and
    * scoring is a broadcast-hash join + partial-sum aggregation.
    *
    * Codebooks are the sub-slices of a deterministic Knuth-hash sample
    * of the corpus (same trick as [[ivfTopK]] — SQL-expressible, so the
    * whole pipeline has an exact DuckDB oracle; k-means training would
    * sharpen the codebooks without changing the dataflow). ADC partials
    * are integerized at `scale` decimals, so the 4-term sum is
    * order-free and bit-identical cross-engine.
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      subspaces: Int = 16, codebookSize: Int = 16, shortlist: Int = 100,
      seed: Long = 77L, scale: Int = 6, roundTo: Int = 6): DataFrame = {
    val spark = corpus.sparkSession
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % subspaces == 0, "subspaces must divide dim")
    val sub = dim / subspaces
    // L2-normalize first: on unit vectors L2² = 2 - 2·cos, so ADC ranks
    // by (approximate) cosine. Norm + slice as ONE kernel call
    // ([[graft.functions.VectorOps.normSlice]]): the HOF form
    // transform(vec, x -> x / l2_norm(vec)) re-evaluated the O(d) norm
    // per element in interpreted lambdas — O(d²) per vector, and this
    // runs once per (row, subspace). Array-order accumulation = DuckDB's
    // list arithmetic, bit-identical.
    import graft.functions.VectorExpressions.{normSlice, l2Sq}
    val sampled = corpus.select(col(idCol), normSlice(col(vecCol), 0, dim).as("nv"))
      .orderBy(((col(idCol) * lit(2654435761L) + lit(seed)) % lit(4294967296L)).asc,
        col(idCol))
      .limit(codebookSize)
      .orderBy(col(idCol))
      .collect().zipWithIndex
    val cbRows = for {
      (r, c) <- sampled.toIndexedSeq
      s <- 0 until subspaces
    } yield (s, c, r.getSeq[Double](1).slice(s * sub, (s + 1) * sub))
    val cb = broadcast(spark.createDataFrame(cbRows).toDF("s", "code", "cw"))
    // L2² with the SAME accumulation order as DuckDB's list arithmetic.
    def l2sq(a: Column, b: Column): Column = l2Sq(a, b)
    // normalize ONCE per row (one norm pass), then slice the normalized
    // array per subspace with the built-in slice (plain codegen copy) —
    // normSlice per subspace would recompute the O(d) norm `subspaces`
    // times per row on the hot encode path
    def bySubspace(df: DataFrame, id: Column, vec: Column, idName: String): DataFrame =
      df.select(id.as(idName), normSlice(vec, 0, dim).as("nv"))
        .select(col(idName),
          explode(array((0 until subspaces).map(s =>
            struct(lit(s).as("s"),
              slice(col("nv"), s * sub + 1, sub).as("v"))): _*)).as("sv"))
        .select(col(idName), col("sv.s").as("s"), col("sv.v").as("v"))
    // argmin codeword as a HASH AGGREGATE, not a window: min(struct(d,
    // code)) combines map-side (partial agg), so the shuffle carries one
    // row per (cid, s) instead of the full codebookSize explosion —
    // this is the corpus-scale stage. Tie-break (smallest d, then
    // smallest code) matches the oracle's row_number ordering.
    val enc = bySubspace(corpus, col(idCol), col(vecCol), "cid")
      .join(cb, Seq("s"))
      .withColumn("d", l2sq(col("v"), col("cw")))
      .groupBy(col("cid"), col("s"))
      .agg(min(struct(col("d"), col("code"))).as("m"))
      .select(col("cid"), col("s"), col("m.code").as("code"))
    val pd = bySubspace(queries, col("qid"), col("qvec"), "qid")
      .join(cb, Seq("s"))
      .select(col("qid"), col("s"), col("code"),
        Det.toFixed(l2sq(col("v"), col("cw")), scale).as("pdl"))
    val adcW = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("cid"))
    val shortlisted = enc.join(broadcast(pd), Seq("s", "code"))
      .where(col("cid") =!= col("qid"))
      .groupBy(col("qid"), col("cid"))
      .agg((sum(col("pdl")).cast("double") /
        lit(math.pow(10.0, scale.toDouble))).as("adc"))
      .withColumn("sr", row_number().over(adcW))
      .where(col("sr") <= shortlist)
      .select(col("qid"), col("cid"))
    // Exact re-rank of the ADC shortlist — the standard PQ serving shape
    // (quantized scan prunes, float math only touches `shortlist` rows).
    val rerankW = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    shortlisted
      .join(corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")), Seq("cid"))
      .join(broadcast(queries), Seq("qid"))
      .withColumn("cos", Det.fixed(cosineSim(col("qvec"), col("cvec")), roundTo))
      .withColumn("rank", row_number().over(rerankW))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid").as("neighbor_id"), col("cos"))
  }
}
