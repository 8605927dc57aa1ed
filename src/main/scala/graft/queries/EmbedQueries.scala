package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.VectorExpressions._
import graft.operators.{Curation, LogReg, Similarity, VecKMeans}
import graft.util.Stage.StageOps
import graft.util.Det
import org.apache.spark.sql.functions._

/** Embedding similarity queries (SURVEY.md §7.6): vector stats, exact
  * brute-force cosine top-k (baseline), and LSH-bucketed approximate
  * top-k (the scale path). Cosine/dot/norm are native codegen expressions
  * ([[graft.functions.VectorExpressions]]), accumulated in double in array
  * order — verified bit-identical to DuckDB's list arithmetic.
  */
object EmbedQueries {

  /** The standing query set: the first 20 vectors. */
  private def queryVectors(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d).where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** DuckDB cosine between two list expressions — same accumulation order
    * as the native CosineSim kernel (bit-identical, proven by
    * ann_cosine_topk's exact hash match). */
  private[queries] def cosSqlOf(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  private val cosSql = cosSqlOf("q.embedding", "c.embedding")

  /** Shared CTE prefix replicating [[Similarity.knnJoinIvf]] in SQL
    * (Knuth-hash centroid sample → row-1 cell assignment → top-nProbe
    * probes → scored candidates → ranked). Ends at `ranked`; consumers
    * filter `rank <= k`. MATERIALIZED throughout: the mutual-kNN
    * clustering row feeds these into a recursive closure, where DuckDB's
    * default CTE inlining re-evaluates the whole kernel chain per
    * reference (the GraphQueries 100×-scale lesson). */
  /** The [[Similarity.knnJoinIvf]] pipeline as DuckDB CTEs, including the
    * hot-cell sub-split (maxCellSize) that keeps the candidate table
    * linear: sub-cell hash = (id·2654435761 + 43) % 2^32 % nsub on both
    * the corpus row and the probing query, mirroring the Spark kernel
    * (seed 42 ⇒ sub-split seed 43). */
  private[queries] def knnJoinCtes(k: Int, nProbe: Int, maxCellSize: Int,
      p: String = "", centSrc: String = "embeddings",
      querySrc: String = "embeddings", nCells: Int = 16,
      corpusSrc: String = "embeddings"): String =
    s"""${p}cent AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
       |  FROM (
       |    SELECT vec_id, embedding FROM $centSrc
       |    ORDER BY (vec_id * 2654435761 + 42) % 4294967296, vec_id
       |    LIMIT $nCells
       |  )
       |),
       |${p}cells0 AS MATERIALIZED (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSqlOf("e.embedding", "c.embedding")} DESC, c.cell) AS r
       |    FROM $corpusSrc e CROSS JOIN ${p}cent c
       |  ) WHERE r = 1
       |),
       |${p}nsubs AS MATERIALIZED (
       |  SELECT cell, GREATEST(1, CAST(CEIL(
       |      CAST(count(*) AS DOUBLE) / $maxCellSize.0) AS BIGINT)) AS nsub
       |  FROM ${p}cells0 GROUP BY cell
       |),
       |${p}cells AS MATERIALIZED (
       |  SELECT c.vec_id, c.embedding, c.cell,
       |    ((c.vec_id * 2654435761 + 43) % 4294967296) % n.nsub AS subcell
       |  FROM ${p}cells0 c JOIN ${p}nsubs n ON n.cell = c.cell
       |),
       |${p}probes AS MATERIALIZED (
       |  SELECT p.qid, p.qvec, p.cell,
       |    ((p.qid * 2654435761 + 43) % 4294967296) % n.nsub AS subcell
       |  FROM (
       |    SELECT qid, qvec, cell FROM (
       |      SELECT q.vec_id AS qid, q.embedding AS qvec, c.cell,
       |        row_number() OVER (PARTITION BY q.vec_id
       |          ORDER BY ${cosSqlOf("q.embedding", "c.embedding")} DESC, c.cell) AS r
       |      FROM $querySrc q CROSS JOIN ${p}cent c
       |    ) WHERE r <= $nProbe
       |  ) p JOIN ${p}nsubs n ON n.cell = p.cell
       |),
       |${p}scored AS MATERIALIZED (
       |  SELECT p.qid, ce.vec_id AS neighbor_id,
       |    ${Det.fixedSql(cosSqlOf("p.qvec", "ce.embedding"), 6)} AS cos
       |  FROM ${p}probes p JOIN ${p}cells ce
       |    ON ce.cell = p.cell AND ce.subcell = p.subcell AND ce.vec_id <> p.qid
       |),
       |${p}ranked AS MATERIALIZED (
       |  SELECT qid, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM ${p}scored
       |)""".stripMargin

  /** The planes CTE rows for [[Similarity.hyperplanes]] — each row
    * (t, bitval, coeffs) is one hyperplane; signature bit b of table t is
    * set iff dot(vec, coeffs) > 0 (VectorOps.hyperplaneSig:118). Doubles
    * are emitted via Double.toString (shortest round-trip repr), which
    * DuckDB parses back to the identical IEEE value. */
  private def planesValuesSql(dim: Int, bits: Int, tables: Int, seed: Long): String =
    Similarity.hyperplanes(dim, bits, tables, seed).zipWithIndex.flatMap {
      case (tablePlanes, t) => tablePlanes.zipWithIndex.map { case (coeffs, b) =>
        s"($t, ${1 << b}, ${coeffs.mkString("[", ", ", "]")})"
      }
    }.mkString(",\n  ")

  /** LSH signature per (vec, table) as SQL over the planes CTE: exact
    * integer sum of bit values whose hyperplane dot is positive. The dot
    * is order-exact list arithmetic, so the sign matches the kernel
    * bit-for-bit (ties at exactly 0.0 excluded in both). */
  private val sigAggSql =
    """SUM(CASE WHEN list_sum(list_transform(list_zip(e.embedding, p.coeffs),
      |        x -> CAST(x[1] AS DOUBLE) * x[2])) > 0 THEN p.bitval ELSE 0 END)""".stripMargin

  /** Chained-CTE DuckDB oracle for [[Similarity.powerIterationTopEigen]]:
    * the embed_covariance CTEs (same integerized sums), the mirrored
    * matrix, then one (w, norm, v) CTE block per iteration — every float
    * op is either exact (BIGINT sums of integerized terms), correctly
    * rounded IEEE (product, division, sqrt of equal inputs), or a
    * cross-engine-safe scale-0 round, so the match is exact by
    * construction. */
  private def pcaPowerOracleSql(iters: Int, covScale: Int = 7,
      itScale: Int = 9): String = {
    val fi = "1" + ("0" * itScale)
    s"""${pcaChainSql(iters, covScale, itScale)}
       |SELECT CAST(v$iters.j AS INT) AS i, v$iters.v AS v,
       |  ${Det.fixedSql(s"n$iters.norm", 6)} AS eigval
       |FROM v$iters CROSS JOIN n$iters ORDER BY i""".stripMargin
  }

  /** Projection oracle: per-vector integerized dot with the learned
    * eigenvector ([[Similarity.pcaProject]]). */
  private def pcaProjectOracleSql(iters: Int, covScale: Int = 7,
      itScale: Int = 9): String = {
    val fi = "1" + ("0" * itScale)
    s"""${pcaChainSql(iters, covScale, itScale)},
       |ex AS (
       |  SELECT vec_id, unnest(range(0, len(embedding))) AS j,
       |    unnest(list_transform(embedding, t -> CAST(t AS DOUBLE))) AS x
       |  FROM embeddings
       |)
       |SELECT ex.vec_id,
       |  CAST(SUM(${Det.toFixedSql("ex.x * v.v", itScale)}) AS DOUBLE) / $fi AS score
       |FROM ex JOIN v$iters v ON v.j = ex.j
       |GROUP BY 1 ORDER BY ex.vec_id""".stripMargin
  }

  /** Shared WITH-prefix of the PCA oracles: the embed_covariance CTEs,
    * the mirrored matrix, and one (w, norm, v) block per power-iteration
    * round. */
  private def pcaChainSql(iters: Int, covScale: Int, itScale: Int): String = {
    val fi = "1" + ("0" * itScale)
    val fc = "1" + ("0" * covScale)
    val chain = (1 to iters).map { t =>
      s"""w$t AS (
         |  SELECT cm.i, CAST(SUM(${Det.toFixedSql("cm.cov * v.v", itScale)}) AS DOUBLE) / $fi AS w
         |  FROM cm JOIN v${t - 1} v ON v.j = cm.j GROUP BY 1
         |), n$t AS (
         |  SELECT sqrt(CAST(SUM(${Det.toFixedSql("w * w", itScale)}) AS DOUBLE) / $fi) AS norm FROM w$t
         |), v$t AS (
         |  SELECT i AS j, ${Det.fixedSql("w / norm", itScale)} AS v FROM w$t CROSS JOIN n$t
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH xi AS (
       |  SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS i
       |  FROM embeddings
       |), pairs AS (
       |  SELECT i, j,
       |    CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) AS xi,
       |    CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE) AS xj
       |  FROM (SELECT vec_id, embedding, i,
       |          unnest(range(0, len(embedding))) AS j FROM xi)
       |  WHERE j >= i
       |), st AS (
       |  SELECT i, j, count(*) AS n,
       |    SUM(${Det.toFixedSql("xi * xj", covScale)}) AS sxy,
       |    SUM(${Det.toFixedSql("xi", covScale)}) AS sx,
       |    SUM(${Det.toFixedSql("xj", covScale)}) AS sy
       |  FROM pairs GROUP BY 1, 2
       |), c AS (
       |  SELECT i, j,
       |    (CAST(sxy AS DOUBLE) / $fc / CAST(n AS DOUBLE))
       |    - (CAST(sx AS DOUBLE) / $fc / CAST(n AS DOUBLE))
       |    * (CAST(sy AS DOUBLE) / $fc / CAST(n AS DOUBLE)) AS cov
       |  FROM st
       |), cm AS (
       |  SELECT i, j, cov FROM c
       |  UNION ALL SELECT j AS i, i AS j, cov FROM c WHERE i <> j
       |), v0 AS (
       |  SELECT DISTINCT i AS j, CAST(1.0 AS DOUBLE) AS v FROM cm
       |),
       |$chain""".stripMargin
  }

  /** Chained-CTE oracle for [[VecKMeans.fitFixedPoint]]: Knuth-hash
    * sampled init, then per round an argmax-cosine assignment CTE and an
    * integerized (cell, dim) update CTE — counts and BIGINT sums exact,
    * the mean a deterministic ratio, re-rounded to the decimal grid
    * exactly as the Spark side does. */
  private def kmeansOracleSql(k: Int, iters: Int, seed: Long,
      scale: Int = 7): String = {
    val fc = "1" + ("0" * scale)
    val chain = (1 to iters).map { t =>
      s"""asg$t AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSqlOf("e.embedding", "c.cv")} DESC, c.cell) AS r
         |    FROM embeddings e CROSS JOIN cent${t - 1} c
         |  ) WHERE r = 1
         |), m$t AS (
         |  SELECT cell, pos, n,
         |    ${Det.fixedSql(s"CAST(sx AS DOUBLE) / $fc / CAST(n AS DOUBLE)", scale)} AS m
         |  FROM (
         |    SELECT cell, pos, count(*) AS n,
         |      SUM(${Det.toFixedSql("x", scale)}) AS sx
         |    FROM (
         |      SELECT cell, unnest(range(0, len(embedding))) AS pos,
         |        unnest(list_transform(embedding, t -> CAST(t AS DOUBLE))) AS x
         |      FROM asg$t
         |    ) GROUP BY 1, 2
         |  )
         |), cent$t AS (
         |  SELECT cell, list(m ORDER BY pos) AS cv FROM m$t GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH cent0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |    list_transform(embedding, t -> CAST(t AS DOUBLE)) AS cv
       |  FROM (
       |    SELECT vec_id, embedding FROM embeddings
       |    ORDER BY (vec_id * 2654435761 + $seed) % 4294967296, vec_id
       |    LIMIT $k
       |  )
       |),
       |$chain
       |SELECT cell, CAST(pos AS INT) AS pos, n, m
       |FROM m$iters ORDER BY cell, pos""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- embedding covariance matrix (PCA/whitening prep): upper
    // triangle of the 64x64 population covariance, integerized sums ->
    // bit-identical across engines/partitionings ----
    QueryDef("embed_covariance",
      (s, d) => Similarity.covarianceUpperTriangle(
        Tables.embeddings(s, d), "embedding", scale = 7)
        .orderBy(col("i"), col("j")),
      oracle = Some(
        s"""WITH xi AS (
           |  SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS i
           |  FROM embeddings
           |), pairs AS (
           |  SELECT i, j,
           |    CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) AS xi,
           |    CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE) AS xj
           |  FROM (SELECT vec_id, embedding, i,
           |          unnest(range(0, len(embedding))) AS j FROM xi)
           |  WHERE j >= i
           |), st AS (
           |  SELECT i, j, count(*) AS n,
           |    SUM(${graft.util.Det.toFixedSql("xi * xj", 7)}) AS sxy,
           |    SUM(${graft.util.Det.toFixedSql("xi", 7)}) AS sx,
           |    SUM(${graft.util.Det.toFixedSql("xj", 7)}) AS sy
           |  FROM pairs GROUP BY 1, 2
           |)
           |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, n,
           |  (CAST(sxy AS DOUBLE) / 10000000 / CAST(n AS DOUBLE))
           |  - (CAST(sx AS DOUBLE) / 10000000 / CAST(n AS DOUBLE))
           |  * (CAST(sy AS DOUBLE) / 10000000 / CAST(n AS DOUBLE)) AS cov
           |FROM st ORDER BY i, j""".stripMargin),
      bench = false),

    // ---- top principal component by power iteration: the covariance
    // pass is the only corpus-scale stage; the d x d iteration is
    // integerized per round (the PageRank recipe), so the ITERATIVE
    // spectral fit is bit-identical to a chained-CTE DuckDB twin. ----
    QueryDef("embed_pca_power",
      (s, d) => Similarity.powerIterationTopEigen(
        Tables.embeddings(s, d), "embedding", iters = 4)
        .orderBy(col("i")),
      oracle = Some(pcaPowerOracleSql(iters = 4))),

    // ---- PCA APPLY: per-vector score on the learned component — the
    // projection a whitening/pruning pipeline materializes. One explode
    // + broadcast join + integerized-dot aggregate over the corpus. ----
    QueryDef("embed_pca_project",
      (s, d) => Similarity.pcaProject(
        Tables.embeddings(s, d), "embedding", iters = 4)
        .orderBy(col("vec_id")),
      oracle = Some(pcaProjectOracleSql(iters = 4)),
      bench = false),

    // ---- ORACLE-EXACT spherical k-means (Lloyd's): row-local argmax
    // assignment over centroid literals, ONE (cell, dim) hash aggregate
    // per round (k*d rows to the driver, like the EM suffstats pass),
    // integerized sums -> 3 full rounds bit-identical to the chained-CTE
    // DuckDB twin. ----
    QueryDef("embed_kmeans",
      (s, d) => VecKMeans.fitFixedPoint(
        Tables.embeddings(s, d), "embedding", k = 8, iters = 3, seed = 42L)
        .orderBy(col("cell"), col("pos")),
      oracle = Some(kmeansOracleSql(k = 8, iters = 3, seed = 42L))),

    // ---- SemDeDup-style semantic dedup: coarse-quantizer cells as the
    // blocking structure, within-cell smaller-id near-dup drop. Cells,
    // pairs and drops all reproduce from the hash-sampled centroids in
    // SQL — full hash-match on a clustering-based dedup. ----
    // Params PINNED (not the scale-aware defaults): the oracle below
    // hardcodes this exact parameterization (LIMIT 16 centroid sample,
    // maxCellSize = 32), so the hash is stable across fixture regens.
    // maxCellSize is FINITE here (VERDICT r7 #4) so the hot-cell
    // sub-split — the guard that keeps in-cell pair counts bounded when
    // a quantizer cell goes hot at scale — is exercised in the certified
    // path, not just in SimilaritySpec's skew case: at sf0.01 the 16
    // cells average ~31 vectors, so several cells split. The oracle's
    // `sized` CTE replicates the sub-split hash ((id·H + seed+1) mod 2³²
    // mod nsub) exactly.
    QueryDef("dedup_semantic",
      (s, d) => Similarity.semanticDedup(
        Tables.embeddings(s, d), threshold = 0.35,
        nCells = 16, maxCellSize = 32)
        .orderBy(col("vec_id")),
      oracle = Some(
        s"""WITH cent AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
           |  FROM (
           |    SELECT vec_id, embedding FROM embeddings
           |    ORDER BY (vec_id * 2654435761 + 42) % 4294967296, vec_id
           |    LIMIT 16
           |  )
           |),
           |cells AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cell,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cosSqlOf("e.embedding", "c.embedding")} DESC, c.cell) AS r
           |    FROM embeddings e CROSS JOIN cent c
           |  ) WHERE r = 1
           |),
           |sized AS (
           |  SELECT vec_id, embedding, cell,
           |    ((vec_id * 2654435761 + 43) % 4294967296)
           |      % GREATEST(1, CAST(CEIL(
           |          CAST(count(*) OVER (PARTITION BY cell) AS DOUBLE) / 32.0)
           |        AS BIGINT)) AS subcell
           |  FROM cells
           |),
           |dups AS (
           |  SELECT r.vec_id AS b, min(l.vec_id) AS dup_of
           |  FROM sized l JOIN sized r
           |    ON l.cell = r.cell AND l.subcell = r.subcell AND l.vec_id < r.vec_id
           |  WHERE ${Det.fixedSql(cosSqlOf("l.embedding", "r.embedding"), 6)} >= 0.35
           |  GROUP BY 1
           |)
           |SELECT c.vec_id, c.cell, d.dup_of, d.dup_of IS NULL AS kept
           |FROM cells c LEFT JOIN dups d ON d.b = c.vec_id
           |ORDER BY c.vec_id""".stripMargin)),

    // ---- vector norm statistics per label ----
    QueryDef("embed_norm_stats",
      (s, d) => Tables.embeddings(s, d)
        .select(col("label"), Det.fixed(l2Norm(col("embedding")), 6).as("norm"))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n"),
          Det.fixedSum(col("norm"), 6).as("sum_norm"),
          Det.fixed(min(col("norm")), 6).as("min_norm"),
          Det.fixed(max(col("norm")), 6).as("max_norm"))
        .orderBy(col("label")),
      oracle = Some(
        s"""WITH norms AS (
           |  SELECT label,
           |    ${Det.fixedSql("sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))", 6)} AS norm
           |  FROM embeddings
           |)
           |SELECT label, count(*) AS n,
           |  ${Det.fixedSumSql("norm", 6)} AS sum_norm,
           |  ${Det.fixedSql("min(norm)", 6)} AS min_norm,
           |  ${Det.fixedSql("max(norm)", 6)} AS max_norm
           |FROM norms GROUP BY label ORDER BY label""".stripMargin)),

    // ---- Embedding centroid drift: per-label cosine + L2 shift between
    //      the centroids of two corpus snapshots (vec_id parity stands in
    //      for before/after embedding batches) — the embedding-space
    //      drift monitor of a continuously-re-embedded pipeline, the
    //      vector sibling of stats_psi_drift. One corpus pass: per-dim
    //      sums shuffle only (label, side, dim) cells; everything after
    //      is label×dim-bounded. Per-dim sums are integerized (exact
    //      BIGINT), centroid components are IEEE ratios of exact
    //      integers, and the cross-centroid dot/norm terms re-integerize
    //      per dimension before the final reduce — bit-identical across
    //      engines and partitionings. (At 1e10+ rows per label·dim cell,
    //      swap toFixed for toFixedWide: the long sum clamps at 9.2e18.) ----
    QueryDef("embed_centroid_drift",
      (s, d) => {
        val base = Tables.embeddings(s, d)
        val cnt = base.groupBy(col("label")).agg(
          count(when(col("vec_id") % 2 === 0, lit(1))).as("n_a"),
          count(when(col("vec_id") % 2 === 1, lit(1))).as("n_b"))
        val x = base.select(col("label"), (col("vec_id") % 2).as("side"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("j", "v")))
        val sums = x.groupBy(col("label"), col("j")).agg(
          sum(when(col("side") === 0, Det.toFixed(col("v"), 7))).as("sa"),
          sum(when(col("side") === 1, Det.toFixed(col("v"), 7))).as("sb"))
        val m = sums.join(broadcast(cnt), Seq("label"))
          .select(col("label"),
            (col("sa").cast("double") / (col("n_a") * lit(1e7))).as("ma"),
            (col("sb").cast("double") / (col("n_b") * lit(1e7))).as("mb"))
        m.groupBy(col("label")).agg(
          sum(Det.toFixed(col("ma") * col("mb"), 9)).as("dot_i"),
          sum(Det.toFixed(col("ma") * col("ma"), 9)).as("a2_i"),
          sum(Det.toFixed(col("mb") * col("mb"), 9)).as("b2_i"),
          sum(Det.toFixed((col("ma") - col("mb")) * (col("ma") - col("mb")), 9))
            .as("l2_i"))
          .join(broadcast(cnt), Seq("label"))
          .select(col("label"), col("n_a"), col("n_b"),
            ((col("dot_i").cast("double") / lit(1e9)) /
              (sqrt(col("a2_i").cast("double") / lit(1e9)) *
                sqrt(col("b2_i").cast("double") / lit(1e9))))
              .as("cos_centroid"),
            sqrt(col("l2_i").cast("double") / lit(1e9)).as("l2_shift"))
          .orderBy(col("label"))
      },
      oracle = Some(
        s"""WITH cnt AS (
           |  SELECT label,
           |    COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS n_a,
           |    COUNT(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS n_b
           |  FROM embeddings GROUP BY label
           |),
           |x AS (
           |  SELECT label, vec_id % 2 AS side,
           |    unnest(range(0, len(embedding))) AS j,
           |    unnest(list_transform(embedding, t -> CAST(t AS DOUBLE))) AS v
           |  FROM embeddings
           |),
           |sums AS (
           |  SELECT label, j,
           |    CAST(SUM(CASE WHEN side = 0 THEN ${Det.toFixedSql("v", 7)} END) AS BIGINT) AS sa,
           |    CAST(SUM(CASE WHEN side = 1 THEN ${Det.toFixedSql("v", 7)} END) AS BIGINT) AS sb
           |  FROM x GROUP BY label, j
           |),
           |m AS (
           |  SELECT s.label,
           |    CAST(sa AS DOUBLE) / (n_a * CAST(10000000 AS DOUBLE)) AS ma,
           |    CAST(sb AS DOUBLE) / (n_b * CAST(10000000 AS DOUBLE)) AS mb
           |  FROM sums s JOIN cnt USING (label)
           |),
           |agg AS (
           |  SELECT label,
           |    CAST(SUM(${Det.toFixedSql("ma * mb", 9)}) AS BIGINT) AS dot_i,
           |    CAST(SUM(${Det.toFixedSql("ma * ma", 9)}) AS BIGINT) AS a2_i,
           |    CAST(SUM(${Det.toFixedSql("mb * mb", 9)}) AS BIGINT) AS b2_i,
           |    CAST(SUM(${Det.toFixedSql("(ma - mb) * (ma - mb)", 9)}) AS BIGINT) AS l2_i
           |  FROM m GROUP BY label
           |)
           |SELECT label, n_a, n_b,
           |  (CAST(dot_i AS DOUBLE) / 1000000000) /
           |    (sqrt(CAST(a2_i AS DOUBLE) / 1000000000) *
           |     sqrt(CAST(b2_i AS DOUBLE) / 1000000000)) AS cos_centroid,
           |  sqrt(CAST(l2_i AS DOUBLE) / 1000000000) AS l2_shift
           |FROM agg JOIN cnt USING (label)
           |ORDER BY label""".stripMargin),
      bench = false),

    // ---- Embedding outlier scrub: per-label diagonal-covariance
    //      Mahalanobis² score, top-50 outliers — the "drop broken
    //      embeddings before training" curation op (mis-encoded rows,
    //      collapsed vectors, wrong-label strays all surface as large
    //      z²-sums). Two corpus passes, both scale-safe: (1) per-dim
    //      suffstats reduce to label×dim cells (integerized BIGINT sums;
    //      at 1e10+ rows/label·dim swap scale-12 v² sums for
    //      toFixedWide); (2) a broadcast join of the label-bounded
    //      stats-array table, then a ROW-LOCAL zip_with/aggregate kernel
    //      — no second corpus shuffle at all, the TakeOrdered top-50 is
    //      the only reduction. The per-dim z² terms integerize at scale
    //      6 before the array-order long sum, so the score — and the
    //      (score, vec_id) ranking — is bit-identical cross-engine.
    //      Variance comes from exact integer sums (E[v²]−m², population);
    //      zero-variance dims contribute 0 by convention. ----
    QueryDef("embed_outlier_mahalanobis",
      (s, d) => {
        val x = Tables.embeddings(s, d).select(col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("j", "v")))
        val stats = x.groupBy(col("label"), col("j")).agg(
          count(lit(1)).as("n"),
          sum(Det.toFixed(col("v"), 7)).as("sa"),
          sum(Det.toFixed(col("v") * col("v"), 12)).as("sq"))
        val m = col("sa").cast("double") / (col("n") * lit(1e7))
        val st2 = stats.select(col("label"), col("j"), m.as("m"),
          (col("sq").cast("double") / (col("n") * lit(1e12)) - m * m).as("s2"))
        // label-bounded arrays, dim-ordered: struct sort key is (j, …), j
        // unique per label, so collect_list order cannot leak through
        val arrs = st2.groupBy(col("label")).agg(
          transform(array_sort(collect_list(struct(col("j"), col("m"), col("s2")))),
            e => e.getField("m")).as("means"),
          transform(array_sort(collect_list(struct(col("j"), col("m"), col("s2")))),
            e => e.getField("s2")).as("vars"))
        val terms = zip_with(
          zip_with(col("embedding").cast("array<double>"), col("means"),
            (v, mm) => v - mm),
          col("vars"),
          (dm, s2) => Det.toFixed(
            when(s2 > 0, dm * dm / s2).otherwise(lit(0.0)), 6))
        Tables.embeddings(s, d).join(broadcast(arrs), Seq("label"))
          .select(col("vec_id"), col("label"),
            (aggregate(terms, lit(0L), (acc, t) => acc + t).cast("double") /
              lit(1e6)).as("maha2"))
          .orderBy(col("maha2").desc, col("vec_id")).limit(50)
      },
      oracle = Some(
        s"""WITH x AS (
           |  SELECT vec_id, label,
           |    unnest(range(0, len(embedding))) AS j,
           |    unnest(list_transform(embedding, t -> CAST(t AS DOUBLE))) AS v
           |  FROM embeddings
           |),
           |stats AS (
           |  SELECT label, j, COUNT(*) AS n,
           |    CAST(SUM(${Det.toFixedSql("v", 7)}) AS BIGINT) AS sa,
           |    CAST(SUM(${Det.toFixedSql("v * v", 12)}) AS BIGINT) AS sq
           |  FROM x GROUP BY label, j
           |),
           |st2 AS (
           |  SELECT label, j,
           |    CAST(sa AS DOUBLE) / (n * CAST(10000000 AS DOUBLE)) AS m,
           |    CAST(sq AS DOUBLE) / (n * CAST(1000000000000 AS DOUBLE))
           |      - (CAST(sa AS DOUBLE) / (n * CAST(10000000 AS DOUBLE)))
           |        * (CAST(sa AS DOUBLE) / (n * CAST(10000000 AS DOUBLE))) AS s2
           |  FROM stats
           |),
           |terms AS (
           |  SELECT x.vec_id,
           |    ${Det.toFixedSql(
                  "CASE WHEN s2 > 0 THEN (v - m) * (v - m) / s2 ELSE 0.0 END", 6)} AS t
           |  FROM x JOIN st2 USING (label, j)
           |),
           |sc AS (
           |  SELECT vec_id, CAST(SUM(t) AS BIGINT) AS ti
           |  FROM terms GROUP BY vec_id
           |)
           |SELECT e.vec_id, e.label,
           |  CAST(ti AS DOUBLE) / 1000000 AS maha2
           |FROM sc JOIN embeddings e USING (vec_id)
           |ORDER BY maha2 DESC, vec_id LIMIT 50""".stripMargin),
      bench = false),

    // ---- exact brute-force cosine top-k (the correctness baseline) ----
    QueryDef("ann_cosine_topk",
      (s, d) => Similarity.bruteForceTopK(
        Tables.embeddings(s, d), queryVectors(s, d), k = 5)
        .orderBy(col("qid"), col("rank")),
      oracle = Some(
        s"""WITH scored AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
           |    ${Det.fixedSql(cosSql, 6)} AS cos
           |  FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
           |), ranked AS (
           |  SELECT qid, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored
           |)
           |SELECT qid, rank, neighbor_id, cos FROM ranked
           |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      // bench-rotated OUT round 10 (flat 0.5 s since r7)
      bench = false),

    // ---- LSH-bucketed approximate top-k (the 100 TB path). The seeded
    // hyperplane constants are embedded into the oracle SQL as a planes
    // CTE, so DuckDB reproduces the exact same buckets, candidates and
    // ranking — a full hash-match on an approximate operator. ----
    QueryDef("ann_lsh_topk",
      (s, d) => Similarity.lshTopK(
        Tables.embeddings(s, d), queryVectors(s, d), k = 5, dim = 64)
        .orderBy(col("qid"), col("rank")),
      oracle = Some(
        s"""WITH planes(t, bitval, coeffs) AS (VALUES
           |  ${planesValuesSql(dim = 64, bits = 10, tables = 6, seed = 42L)}
           |),
           |sig AS (
           |  SELECT e.vec_id, p.t, $sigAggSql AS sig
           |  FROM embeddings e, planes p
           |  GROUP BY e.vec_id, p.t
           |),
           |cand AS (
           |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS id
           |  FROM sig q JOIN sig c ON c.t = q.t AND c.sig = q.sig
           |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
           |),
           |scored AS (
           |  SELECT cand.qid, cand.id AS neighbor_id,
           |    ${Det.fixedSql(cosSqlOf("qe.embedding", "ce.embedding"), 6)} AS cos
           |  FROM cand
           |  JOIN embeddings qe ON qe.vec_id = cand.qid
           |  JOIN embeddings ce ON ce.vec_id = cand.id
           |),
           |ranked AS (
           |  SELECT qid, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored
           |)
           |SELECT qid, rank, neighbor_id, cos FROM ranked
           |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // ---- array / higher-order functions over the embedding column ----
    QueryDef("array_funcs",
      (s, d) => Tables.embeddings(s, d)
        .where(col("vec_id") < 200)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          Det.fixed(element_at(col("embedding"), 1).cast("double"), 6).as("first_elem"),
          Det.fixed(aggregate(
            transform(col("embedding"), x => x.cast("double") * x.cast("double")),
            lit(0.0), (a, v) => a + v), 6).as("sum_sq"),
          size(filter(col("embedding"), x => x > 0)).as("n_positive"),
          Det.fixed(array_max(col("embedding")).cast("double"), 6).as("max_elem"),
          Det.fixed(slice(sort_array(col("embedding")), 1, 1).getItem(0).cast("double"), 6)
            .as("min_via_sort"))
        .orderBy(col("vec_id")),
      oracle = Some(
        s"""SELECT vec_id,
          |  len(embedding) AS dim,
          |  ${Det.fixedSql("CAST(embedding[1] AS DOUBLE)", 6)} AS first_elem,
          |  ${Det.fixedSql("list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))", 6)} AS sum_sq,
          |  len(list_filter(embedding, x -> x > 0)) AS n_positive,
          |  ${Det.fixedSql("CAST(list_max(embedding) AS DOUBLE)", 6)} AS max_elem,
          |  ${Det.fixedSql("CAST(list_sort(embedding)[1] AS DOUBLE)", 6)} AS min_via_sort
          |FROM embeddings WHERE vec_id < 200 ORDER BY vec_id""".stripMargin),
      bench = false),

    // ---- IVF approximate top-k: seeded coarse quantizer, nProbe cells
    // per query (the recall/cost dial). The centroid sample uses a
    // multiplicative hash so the oracle reproduces the identical cells,
    // probes and ranking in SQL. ----
    QueryDef("ann_ivf_topk",
      (s, d) => Similarity.ivfTopK(
        Tables.embeddings(s, d), queryVectors(s, d), k = 5)
        .orderBy(col("qid"), col("rank")),
      oracle = Some(
        s"""WITH cent AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
           |  FROM (
           |    SELECT vec_id, embedding FROM embeddings
           |    ORDER BY (vec_id * 2654435761 + 42) % 4294967296, vec_id
           |    LIMIT 16
           |  )
           |),
           |cells AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cell,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cosSqlOf("e.embedding", "c.embedding")} DESC, c.cell) AS r
           |    FROM embeddings e CROSS JOIN cent c
           |  ) WHERE r = 1
           |),
           |probes AS (
           |  SELECT qid, qvec, cell FROM (
           |    SELECT q.vec_id AS qid, q.embedding AS qvec, c.cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSqlOf("q.embedding", "c.embedding")} DESC, c.cell) AS r
           |    FROM embeddings q CROSS JOIN cent c
           |    WHERE q.vec_id < 20
           |  ) WHERE r <= 4
           |),
           |scored AS (
           |  SELECT p.qid, ce.vec_id AS neighbor_id,
           |    ${Det.fixedSql(cosSqlOf("p.qvec", "ce.embedding"), 6)} AS cos
           |  FROM probes p JOIN cells ce ON ce.cell = p.cell AND ce.vec_id <> p.qid
           |),
           |ranked AS (
           |  SELECT qid, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored
           |)
           |SELECT qid, rank, neighbor_id, cos FROM ranked
           |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // ---- ANN quality-evaluation harness: recall@5 of the IVF index
    //      (the designated 100 TB path) against the exact brute-force
    //      ranking, over the standing 20-query set — the dedup_lsh_eval
    //      sibling for similarity search: "how much recall does nProbe=4
    //      out of 16 cells give up?" Both rankings are the
    //      already-oracle-exact operators; the metric join runs on
    //      (qid, neighbor_id) keys, counts are exact ints, recall is
    //      pure IEEE division — bit-identical cross-engine. ----
    QueryDef("ann_recall_eval",
      (s, d) => {
        // shared: consumed by both the denominator agg and the hit join —
        // Catalyst plans duplicated subtrees twice, so without the share
        // the expensive brute-force ranking runs twice per eval
        val exact = Similarity.bruteForceTopK(
          Tables.embeddings(s, d), queryVectors(s, d), k = 5)
          .select(col("qid"), col("neighbor_id")).stageShare()
        val ivf = Similarity.ivfTopK(
          Tables.embeddings(s, d), queryVectors(s, d), k = 5)
          .select(col("qid"), col("neighbor_id"))
        val ne = exact.agg(count(lit(1)).as("n_exact"))
        val nh = ivf.join(exact, Seq("qid", "neighbor_id"))
          .agg(count(lit(1)).as("n_hit"))
        ne.crossJoin(nh).select(col("n_exact"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_exact").cast("double"))
            .as("recall_at_5"))
      },
      oracle = Some(
        s"""WITH bscored AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
           |    ${Det.fixedSql(cosSqlOf("q.embedding", "c.embedding"), 6)} AS cos
           |  FROM embeddings q JOIN embeddings c
           |    ON q.vec_id < 20 AND c.vec_id <> q.vec_id
           |), exact AS (
           |  SELECT qid, neighbor_id FROM (
           |    SELECT qid, neighbor_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           |    FROM bscored
           |  ) WHERE rank <= 5
           |),
           |cent AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
           |  FROM (
           |    SELECT vec_id, embedding FROM embeddings
           |    ORDER BY (vec_id * 2654435761 + 42) % 4294967296, vec_id
           |    LIMIT 16
           |  )
           |),
           |cells AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cell,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cosSqlOf("e.embedding", "c.embedding")} DESC, c.cell) AS r
           |    FROM embeddings e CROSS JOIN cent c
           |  ) WHERE r = 1
           |),
           |probes AS (
           |  SELECT qid, qvec, cell FROM (
           |    SELECT q.vec_id AS qid, q.embedding AS qvec, c.cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSqlOf("q.embedding", "c.embedding")} DESC, c.cell) AS r
           |    FROM embeddings q CROSS JOIN cent c
           |    WHERE q.vec_id < 20
           |  ) WHERE r <= 4
           |),
           |iscored AS (
           |  SELECT p.qid, ce.vec_id AS neighbor_id,
           |    ${Det.fixedSql(cosSqlOf("p.qvec", "ce.embedding"), 6)} AS cos
           |  FROM probes p JOIN cells ce ON ce.cell = p.cell AND ce.vec_id <> p.qid
           |),
           |ivf AS (
           |  SELECT qid, neighbor_id FROM (
           |    SELECT qid, neighbor_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           |    FROM iscored
           |  ) WHERE rank <= 5
           |),
           |m AS (
           |  SELECT
           |    (SELECT COUNT(*) FROM exact) AS n_exact,
           |    (SELECT COUNT(*) FROM ivf JOIN exact USING (qid, neighbor_id)) AS n_hit
           |)
           |SELECT n_exact, n_hit,
           |  CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_at_5
           |FROM m""".stripMargin),
      bench = false),

    // ---- SAMPLED-query ANN recall eval: the scale path of
    //      ann_recall_eval. The standing 20-query set is an id-PREFIX —
    //      at scale that is both biased (ScaleGen keeps original docs at
    //      low ids, so upscaled decades never contribute queries) and
    //      frozen (the eval stops exercising new data). Here the query
    //      set is an exact-k hash sample (32 smallest multiplicative-hash
    //      u values, seed 93, ties by id — Curation.exactKSample, plans
    //      as TakeOrdered): unbiased across the id space, deterministic,
    //      engine-portable, and CONSTANT work at every corpus size —
    //      truth cost stays 32·|corpus| row-local cosines while the full
    //      exact-truth shape of a per-doc eval would grow quadratically.
    //      Same metric join as ann_recall_eval: exact-int hits on
    //      (qid, neighbor_id), IEEE recall ratio. ----
    QueryDef("ann_recall_eval_sampled",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = graft.operators.Curation
          .exactKSample(emb, col("vec_id"), 32, 93L)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        // shared for the same two-consumer reason as ann_recall_eval
        val exact = Similarity.bruteForceTopK(emb, q, k = 5)
          .select(col("qid"), col("neighbor_id")).stageShare()
        val ivf = Similarity.ivfTopK(emb, q, k = 5)
          .select(col("qid"), col("neighbor_id"))
        val ne = exact.agg(count(lit(1)).as("n_exact"))
        val nh = ivf.join(exact, Seq("qid", "neighbor_id"))
          .agg(count(lit(1)).as("n_hit"))
        ne.crossJoin(nh).select(col("n_exact"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_exact").cast("double"))
            .as("recall_at_5"))
      },
      oracle = Some(
        s"""WITH qs AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  ORDER BY (vec_id * 2654435761 + 93) % 4294967296, vec_id
           |  LIMIT 32
           |),
           |bscored AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
           |    ${Det.fixedSql(cosSqlOf("q.embedding", "c.embedding"), 6)} AS cos
           |  FROM qs q JOIN embeddings c ON c.vec_id <> q.vec_id
           |), exact AS (
           |  SELECT qid, neighbor_id FROM (
           |    SELECT qid, neighbor_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           |    FROM bscored
           |  ) WHERE rank <= 5
           |),
           |cent AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
           |  FROM (
           |    SELECT vec_id, embedding FROM embeddings
           |    ORDER BY (vec_id * 2654435761 + 42) % 4294967296, vec_id
           |    LIMIT 16
           |  )
           |),
           |cells AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cell,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cosSqlOf("e.embedding", "c.embedding")} DESC, c.cell) AS r
           |    FROM embeddings e CROSS JOIN cent c
           |  ) WHERE r = 1
           |),
           |probes AS (
           |  SELECT qid, qvec, cell FROM (
           |    SELECT q.vec_id AS qid, q.embedding AS qvec, c.cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSqlOf("q.embedding", "c.embedding")} DESC, c.cell) AS r
           |    FROM qs q CROSS JOIN cent c
           |  ) WHERE r <= 4
           |),
           |iscored AS (
           |  SELECT p.qid, ce.vec_id AS neighbor_id,
           |    ${Det.fixedSql(cosSqlOf("p.qvec", "ce.embedding"), 6)} AS cos
           |  FROM probes p JOIN cells ce ON ce.cell = p.cell AND ce.vec_id <> p.qid
           |),
           |ivf AS (
           |  SELECT qid, neighbor_id FROM (
           |    SELECT qid, neighbor_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           |    FROM iscored
           |  ) WHERE rank <= 5
           |),
           |m AS (
           |  SELECT
           |    (SELECT COUNT(*) FROM exact) AS n_exact,
           |    (SELECT COUNT(*) FROM ivf JOIN exact USING (qid, neighbor_id)) AS n_hit
           |)
           |SELECT n_exact, n_hit,
           |  CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_at_5
           |FROM m""".stripMargin),
      bench = false),

    // ---- Matryoshka truncation eval: recall@5 of brute-force cosine on
    //      the FIRST 32 of 64 dimensions against the full-dimension
    //      ranking — the "can we halve the vector store?" question of an
    //      MRL-style embedding pipeline, and the dimension-axis sibling
    //      of ann_recall_eval (which evaluates the index axis). Both
    //      rankings are the oracle-exact brute-force operator (one on a
    //      sliced view); exact-int hits on (qid, neighbor_id), IEEE
    //      recall ratio. ----
    QueryDef("ann_matryoshka_eval",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // shared for the same two-consumer reason as ann_recall_eval
        val exact = Similarity.bruteForceTopK(emb, queryVectors(s, d), k = 5)
          .select(col("qid"), col("neighbor_id")).stageShare()
        val half = emb.select(col("vec_id"),
          slice(col("embedding"), 1, 32).as("embedding"))
        val halfQ = queryVectors(s, d).select(col("qid"),
          slice(col("qvec"), 1, 32).as("qvec"))
        val trunc = Similarity.bruteForceTopK(half, halfQ, k = 5)
          .select(col("qid"), col("neighbor_id"))
        val ne = exact.agg(count(lit(1)).as("n_exact"))
        val nh = trunc.join(exact, Seq("qid", "neighbor_id"))
          .agg(count(lit(1)).as("n_hit"))
        ne.crossJoin(nh).select(col("n_exact"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_exact").cast("double"))
            .as("recall_at_5"))
      },
      oracle = Some(
        s"""WITH bscored AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
           |    ${Det.fixedSql(cosSqlOf("q.embedding", "c.embedding"), 6)} AS cos
           |  FROM embeddings q JOIN embeddings c
           |    ON q.vec_id < 20 AND c.vec_id <> q.vec_id
           |), exact AS (
           |  SELECT qid, neighbor_id FROM (
           |    SELECT qid, neighbor_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           |    FROM bscored
           |  ) WHERE rank <= 5
           |), tscored AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
           |    ${Det.fixedSql(cosSqlOf("q.embedding[1:32]", "c.embedding[1:32]"), 6)} AS cos
           |  FROM embeddings q JOIN embeddings c
           |    ON q.vec_id < 20 AND c.vec_id <> q.vec_id
           |), trunc AS (
           |  SELECT qid, neighbor_id FROM (
           |    SELECT qid, neighbor_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           |    FROM tscored
           |  ) WHERE rank <= 5
           |), m AS (
           |  SELECT
           |    (SELECT COUNT(*) FROM exact) AS n_exact,
           |    (SELECT COUNT(*) FROM trunc JOIN exact USING (qid, neighbor_id)) AS n_hit
           |)
           |SELECT n_exact, n_hit,
           |  CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_at_5
           |FROM m""".stripMargin),
      bench = false),

    // ---- int8 quantization eval: recall@5 of brute-force cosine on
    //      per-dim symmetric-absmax int8 codes vs the float ranking —
    //      the QUANTIZATION axis of the eval family (ann_recall_eval =
    //      index axis, ann_matryoshka_eval = dimension axis): "can we
    //      shrink the vector store 4x and keep the neighbors?" Codes are
    //      exact small ints — round() of double arithmetic on exact
    //      float absmax stats — so the code-space cosine is
    //      IEEE-deterministic and the row is bit-identical cross-engine.
    //      Code-space (not dequantized) cosine is the estimand on
    //      purpose: it is what an int8 vector store actually executes.
    //      Stats = ONE posexplode agg (d rows) broadcast back as a
    //      sorted array — never a driver collect. ----
    QueryDef("ann_quantization_eval",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // stageShare: the stats agg crosses a shuffle and has TWO
        // consumers (quantize(emb) and quantize(queryVectors)) — without
        // the share Catalyst plans the full-corpus posexplode agg twice
        val scales = emb
          .select(posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("pos")).agg(max(abs(col("x"))).as("m"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("m")))),
            e => e("m").cast("double")).as("scales"))
          .stageShare()
        def quantize(df: org.apache.spark.sql.DataFrame, vc: String) =
          df.crossJoin(broadcast(scales))
            .withColumn(vc, transform(col(vc), (x, i) => {
              val sc = element_at(col("scales"), i + lit(1))
              when(sc > 0d,
                round(x.cast("double") * lit(127.0) / sc, 0))
                .otherwise(lit(0.0)).cast("float")
            }))
            .drop("scales")
        // shared for the same two-consumer reason as ann_recall_eval
        val exact = Similarity.bruteForceTopK(emb, queryVectors(s, d), k = 5)
          .select(col("qid"), col("neighbor_id")).stageShare()
        val quant = Similarity.bruteForceTopK(
          quantize(emb, "embedding"), quantize(queryVectors(s, d), "qvec"),
          k = 5).select(col("qid"), col("neighbor_id"))
        val ne = exact.agg(count(lit(1)).as("n_exact"))
        val nh = quant.join(exact, Seq("qid", "neighbor_id"))
          .agg(count(lit(1)).as("n_hit"))
        ne.crossJoin(nh).select(col("n_exact"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_exact").cast("double"))
            .as("recall_at_5"))
      },
      oracle = Some(
        s"""WITH st AS (
           |  SELECT j, CAST(max(abs(v)) AS DOUBLE) AS m
           |  FROM (
           |    SELECT unnest(range(0, len(embedding))) AS j,
           |      unnest(embedding) AS v
           |    FROM embeddings)
           |  GROUP BY j
           |), sc AS (
           |  SELECT list(m ORDER BY j) AS scales FROM st
           |), qe AS (
           |  SELECT vec_id,
           |    list_transform(list_zip(embedding, range(0, len(embedding))),
           |      p -> CASE WHEN scales[CAST(p[2] AS INT) + 1] > 0
           |        THEN round(CAST(p[1] AS DOUBLE) * 127.0
           |          / scales[CAST(p[2] AS INT) + 1], 0)
           |        ELSE 0.0 END) AS q
           |  FROM embeddings CROSS JOIN sc
           |), bscored AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
           |    ${Det.fixedSql(cosSqlOf("q.embedding", "c.embedding"), 6)} AS cos
           |  FROM embeddings q JOIN embeddings c
           |    ON q.vec_id < 20 AND c.vec_id <> q.vec_id
           |), exact AS (
           |  SELECT qid, neighbor_id FROM (
           |    SELECT qid, neighbor_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           |    FROM bscored
           |  ) WHERE rank <= 5
           |), qscored AS (
           |  SELECT a.vec_id AS qid, c.vec_id AS neighbor_id,
           |    ${Det.fixedSql(cosSqlOf("a.q", "c.q"), 6)} AS cos
           |  FROM qe a JOIN qe c ON a.vec_id < 20 AND c.vec_id <> a.vec_id
           |), quant AS (
           |  SELECT qid, neighbor_id FROM (
           |    SELECT qid, neighbor_id,
           |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           |    FROM qscored
           |  ) WHERE rank <= 5
           |), m AS (
           |  SELECT
           |    (SELECT COUNT(*) FROM exact) AS n_exact,
           |    (SELECT COUNT(*) FROM quant JOIN exact USING (qid, neighbor_id)) AS n_hit
           |)
           |SELECT n_exact, n_hit,
           |  CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_at_5
           |FROM m""".stripMargin),
      bench = false),

    // ---- k-NN JOIN (kNN-graph build): every vector's top-3 neighbors,
    // IVF-blocked — query set = corpus, probes from a row-local
    // sorted-literal slice (no cross-join window on the corpus side),
    // candidates bounded by nProbe × maxCellSize PER VECTOR via the
    // hot-cell sub-split (without the cap a fixed quantizer makes the
    // candidate table |D|²·nProbe/nCells — measured quadratic at the
    // 10× slice). Same deterministic centroid sample + tie-breaks as
    // ann_ivf_topk, so the full graph reproduces in SQL. ----
    QueryDef("ann_knn_join",
      (s, d) => Similarity.knnJoinIvf(
        Tables.embeddings(s, d), k = 3, maxCellSize = 64)
        .orderBy(col("qid"), col("rank")),
      oracle = Some(
        s"""WITH ${knnJoinCtes(k = 3, nProbe = 4, maxCellSize = 64)}
           |SELECT qid, rank, neighbor_id, cos FROM ranked
           |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),

    // ---- INCREMENTAL kNN maintenance: the ingest sibling of
    //      dedup_incremental_lsh — fold a crawl increment (vec_id % 5
    //      == 0 plays the delta) into a PERSISTED IVF index of the
    //      frozen corpus: centroids trained on the OLD corpus only and
    //      written to parquet, the assignment table written PARTITIONED
    //      BY cell, both read back inside the query so the certified
    //      row exercises the real round-trip. Only the delta is
    //      assigned; the index read prunes to the delta's probed cells
    //      (a quantizer-bounded literal IN-list → parquet partition
    //      pruning), so cost tracks the delta, not the corpus. Output =
    //      the delta's top-3 edges over old ∪ new; matched_existing
    //      flags edges into the frozen corpus. SimilaritySpec pins the
    //      batch-equivalence contract (≡ knnJoinIvfWithCentroids over
    //      the union at the frozen centroids, restricted to delta
    //      qids); the oracle certifies the same equivalence end-to-end
    //      (its CTEs ARE the batch build at old-corpus centroids). ----
    QueryDef("ann_incremental_knn",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val delta = emb.where(col("vec_id") % 5 === 0)
        val old = emb.where(col("vec_id") % 5 =!= 0)
        val idxDir = graft.util.Scratch.dir("graft_ivfidx_")
        Similarity.writeIvfIndex(old, idxDir, nCells = 16, seed = 42L)
        Similarity.incrementalKnnJoin(
            delta, idxDir, k = 3, nProbe = 4, maxCellSize = 64)
          .withColumn("matched_existing", col("neighbor_id") % 5 =!= 0)
          .orderBy(col("qid"), col("rank"))
      },
      oracle = Some(
        s"""WITH ${knnJoinCtes(k = 3, nProbe = 4, maxCellSize = 64,
             centSrc = "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0)",
             querySrc = "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0)")}
           |SELECT qid, rank, neighbor_id, cos,
           |  neighbor_id % 5 <> 0 AS matched_existing
           |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),
      // bench-rotated IN round 10 (new heavy row: index write + fold)
      bench = true),

    // ---- IVF INDEX HEALTH / rebuild trigger: the operational gauge
    //      that completes the ingest lifecycle (VERDICT r10 #1) —
    //      appendIvfDelta folds increments at FROZEN centroids forever,
    //      so this row measures when that stops being safe: cell
    //      balance (max_cell, cell_skew, cells past the sub-split
    //      threshold) plus assignment-residual drift (mean top-1 cosine
    //      of the delta at the frozen quantizer vs the indexed corpus's
    //      own fit — the vector sibling of stats_psi_drift), and the
    //      rebuild verdict booleans. Same persisted-index round-trip as
    //      ann_incremental_knn (centroids trained on the 80% "old"
    //      corpus, written, read back); delta = vec_id % 5 == 0 is an
    //      IN-DISTRIBUTION increment, so the certified row shows the
    //      no-rebuild steady state; IndexHealthSpec drives the shifted
    //      delta that trips it and the post-rebuild recall recovery.
    //      Exact integer sums of per-row integerized cosines → IEEE
    //      ratios: bit-identical to the DuckDB dual. ----
    QueryDef("ann_index_health",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val delta = emb.where(col("vec_id") % 5 === 0)
        val old = emb.where(col("vec_id") % 5 =!= 0)
        val idxDir = graft.util.Scratch.dir("graft_ivfhealth_")
        Similarity.writeIvfIndex(old, idxDir, nCells = 16, seed = 42L)
        Similarity.ivfIndexHealth(delta, idxDir, maxCellSize = 64)
      },
      oracle = Some(
        s"""WITH cent AS MATERIALIZED (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
           |  FROM (
           |    SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0
           |    ORDER BY (vec_id * 2654435761 + 42) % 4294967296, vec_id
           |    LIMIT 16
           |  )
           |), fits AS MATERIALIZED (
           |  SELECT e.vec_id, e.vec_id % 5 = 0 AS is_delta,
           |    CAST(ROUND(MAX(${cosSqlOf("e.embedding", "c.embedding")})
           |      * 1000000, 0) AS BIGINT) AS fit_i
           |  FROM embeddings e CROSS JOIN cent c GROUP BY e.vec_id
           |), assign AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.cell,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cosSqlOf("e.embedding", "c.embedding")} DESC,
           |          c.cell) AS r
           |    FROM (SELECT * FROM embeddings WHERE vec_id % 5 <> 0) e
           |    CROSS JOIN cent c
           |  ) WHERE r = 1
           |), percell AS (
           |  SELECT cell, count(*) AS n FROM assign GROUP BY cell
           |), idx AS (
           |  SELECT CAST(SUM(n) AS BIGINT) AS n_indexed,
           |    MAX(n) AS max_cell, COUNT(*) AS n_occupied,
           |    CAST(SUM(CASE WHEN n > 64 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_oversized
           |  FROM percell
           |), sfit AS (
           |  SELECT
           |    CAST(SUM(CASE WHEN NOT is_delta THEN fit_i END) AS BIGINT)
           |      AS s_indexed,
           |    COUNT(CASE WHEN is_delta THEN 1 END) AS n_delta,
           |    CAST(SUM(CASE WHEN is_delta THEN fit_i END) AS BIGINT)
           |      AS s_delta
           |  FROM fits
           |), metrics AS (
           |  SELECT CAST(16 AS INTEGER) AS n_cells, n_occupied, n_indexed,
           |    n_delta, max_cell, n_oversized,
           |    CAST(max_cell AS DOUBLE) * 16.0 / n_indexed AS cell_skew,
           |    CAST(s_indexed AS DOUBLE) / (n_indexed * 1000000.0) AS base_fit,
           |    CAST(s_delta AS DOUBLE) / (n_delta * 1000000.0) AS delta_fit
           |  FROM idx, sfit
           |)
           |SELECT *, base_fit - delta_fit AS fit_drift,
           |  CAST(max_cell AS DOUBLE) * 16.0 / n_indexed > 4.0
           |    AS rebuild_due_balance,
           |  base_fit - delta_fit > 0.02 AS rebuild_due_drift,
           |  (CAST(max_cell AS DOUBLE) * 16.0 / n_indexed > 4.0)
           |    OR (base_fit - delta_fit > 0.02) AS rebuild
           |FROM metrics""".stripMargin),
      // bench-rotated IN round 11 (new row: index write + health scans)
      bench = true),

    // ---- INDEX REBUILD (VERDICT r11 #1 — act on the gauge): the full
    //      lifecycle in one certified row. Base index on the 80% "old"
    //      corpus; the increment is a HOT-CONTENT BURST — every delta
    //      row carries the SAME vector (the corpus row vec_id = 1), the
    //      crawl-burst-of-identical-content scenario. Folded at frozen
    //      centroids the burst piles into ONE cell, driving cell_skew
    //      toward 16f + (1−f) = 4.0 at f = 0.2 REGARDLESS of corpus
    //      size (the scale-robust trigger; a distribution-shift trip
    //      needs centroid-orthogonal synthesis — Gram–Schmidt, not
    //      SQL-expressible — so the specs own that scenario:
    //      IndexRebuildSpec/AnnIngestSpec). The gauge must fire
    //      rebuild_due_balance at skewThreshold 3.0 (an in-row require
    //      — a silent non-trip would certify the wrong scenario); then
    //      rebuildIvfIndex re-trains the quantizer over everything the
    //      index holds and ATOMICALLY swaps the generation live. Output
    //      = post-rebuild top-3 edges for a query sample served through
    //      the REBUILT index (the pruned-read incremental path). The
    //      oracle is a FRESH batch build at centroids trained on the
    //      grown corpus — so the hash match IS the contract: a rebuilt
    //      index is indistinguishable from a from-scratch build at the
    //      re-trained quantizer (the IndexHealthSpec recall-recovery
    //      assertion promoted to an operator, certified end-to-end).
    //      Identical-vector ties (cos = 1.0) resolve by the pinned
    //      (cos DESC, neighbor_id ASC) order in BOTH engines.
    //      Crash-during-swap atomicity is spec-pinned (IndexRebuildSpec).
    QueryDef("ann_index_rebuild",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val old = emb.where(col("vec_id") % 5 =!= 0)
        val hot = broadcast(emb.where(col("vec_id") === 1)
          .select(col("embedding").as("hot_vec")))
        val delta = emb.where(col("vec_id") % 5 === 0).crossJoin(hot)
          .select(col("vec_id"), col("hot_vec").as("embedding"))
        val dir = graft.util.Scratch.dir("graft_ivfrebuild_")
        Similarity.writeIvfIndex(old, dir, nCells = 16, seed = 42L)
        Similarity.appendIvfDelta(delta, dir)
        val verdict = Similarity.ivfIndexHealth(delta, dir,
          maxCellSize = 64, skewThreshold = 3.0).head()
        require(verdict.getAs[Boolean]("rebuild_due_balance"),
          "hot-content burst must trip the balance gauge")
        Similarity.rebuildIvfIndex(s, dir, seed = 42L)
        val sample = old.select(col("vec_id"), col("embedding"))
          .unionByName(delta).where(col("vec_id") % 7 === 0)
        Similarity.incrementalKnnJoin(
            sample, dir, k = 3, nProbe = 4, maxCellSize = 64)
          .orderBy(col("qid"), col("rank"))
      },
      oracle = Some(
        s"""WITH u AS MATERIALIZED (
           |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0
           |  UNION ALL
           |  SELECT e.vec_id, h.embedding
           |  FROM embeddings e
           |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 1) h
           |  WHERE e.vec_id % 5 = 0
           |),
           |${knnJoinCtes(k = 3, nProbe = 4, maxCellSize = 64,
             centSrc = "u", corpusSrc = "u",
             querySrc = "(SELECT vec_id, embedding FROM u WHERE vec_id % 7 = 0)")}
           |SELECT qid, rank, neighbor_id, cos
           |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),

    // ---- hot-cell cap QUALITY eval: the one scale knob of knnJoinIvf
    //      with no measured quality number until now. The sub-split cap
    //      trades recall for linear candidate work ("recall, not shape");
    //      this row measures that trade directly as a CAP-SIZE SWEEP:
    //      edge recall@3 of the capped kNN graph against the UNCAPPED
    //      exact-in-cell graph, one output row per cap. cap = 8 bites at
    //      every fixture scale (cells hold ~31 vectors at sf0.01 —
    //      nsub = 4 quarters each probed cell); cap = 64 is the
    //      production ann_knn_join config, a no-op at sf0.01 and biting
    //      from sf0.1 up — so the row discriminates at CI scale AND
    //      stays meaningful on the 10× decade. Both graphs are the
    //      oracle-exact operator; n_capped < n·k shortfalls (a probed
    //      sub-cell holding < k candidates) are reported, not hidden.
    //      Exact-int hits on (qid, neighbor_id), IEEE recall ratio.
    //
    //      READ THE NUMBERS WITH THE QUANTIZER IN MIND: this row pins
    //      nCells = 16 (oracle reproducibility), so cell size grows
    //      with the corpus and the cap's sub-sampling fraction — hence
    //      recall — degrades as ~cap/cellSize by construction (measured
    //      cap=64: 1.0 at sf0.01/31-per-cell, 0.42 at sf0.1/375,
    //      0.075 at 10×/1250). That is the WORST-CASE curve, i.e. what
    //      the cap costs when the quantizer is undersized. The scale
    //      path sizes nCells ∝ √n (ScaleProbe), keeping cellSize ≈ √n,
    //      where the 4096 default cap is a no-op below ~16M vectors —
    //      ScaleProbe's caprecall op measures THAT config. ----
    QueryDef("ann_knn_cap_eval",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // ONE quantizer + ONE corpus assignment for the three cap
        // variants (identical by construction: knnJoinIvf trains with
        // the same corpus/seed on every call)
        val cm = Similarity.sampleCentroids(
          emb, "vec_id", "embedding", nCells = 16, seed = 42L, refineIters = 0)
        val cellsStaged = Similarity.assignIvfCells(emb, cm, nProbe = 4)
        def graph(cap: Int) = Similarity.knnJoinIvfWithCentroids(
          emb, cm, k = 3, maxCellSize = cap, stagedCells = Some(cellsStaged))
        val uncapped = graph(0)
          .select(col("qid"), col("neighbor_id")).stageShare()
        val nu = uncapped.agg(count(lit(1)).as("n_uncapped"))
        val perCap = Seq(8, 64).map { cap =>
          val capped = graph(cap)
            .select(col("qid"), col("neighbor_id")).stageShare()
          val nc = capped.agg(count(lit(1)).as("n_capped"))
          val nh = capped.join(uncapped, Seq("qid", "neighbor_id"))
            .agg(count(lit(1)).as("n_hit"))
          nu.crossJoin(nc).crossJoin(nh)
            .select(lit(cap.toLong).as("max_cell_size"),
              col("n_uncapped"), col("n_capped"), col("n_hit"),
              (col("n_hit").cast("double") / col("n_uncapped").cast("double"))
                .as("edge_recall"))
        }
        perCap.reduce(_ unionByName _).orderBy(col("max_cell_size"))
      },
      oracle = Some(
        s"""WITH ${knnJoinCtes(k = 3, nProbe = 4, maxCellSize = 1000000, p = "u_")},
           |${knnJoinCtes(k = 3, nProbe = 4, maxCellSize = 8, p = "c8_")},
           |${knnJoinCtes(k = 3, nProbe = 4, maxCellSize = 64, p = "c64_")},
           |ug AS (SELECT qid, neighbor_id FROM u_ranked WHERE rank <= 3),
           |c8g AS (SELECT qid, neighbor_id FROM c8_ranked WHERE rank <= 3),
           |c64g AS (SELECT qid, neighbor_id FROM c64_ranked WHERE rank <= 3),
           |m AS (
           |  SELECT CAST(8 AS BIGINT) AS max_cell_size,
           |    (SELECT COUNT(*) FROM ug) AS n_uncapped,
           |    (SELECT COUNT(*) FROM c8g) AS n_capped,
           |    (SELECT COUNT(*) FROM c8g JOIN ug USING (qid, neighbor_id)) AS n_hit
           |  UNION ALL
           |  SELECT CAST(64 AS BIGINT) AS max_cell_size,
           |    (SELECT COUNT(*) FROM ug) AS n_uncapped,
           |    (SELECT COUNT(*) FROM c64g) AS n_capped,
           |    (SELECT COUNT(*) FROM c64g JOIN ug USING (qid, neighbor_id)) AS n_hit
           |)
           |SELECT max_cell_size, n_uncapped, n_capped, n_hit,
           |  CAST(n_hit AS DOUBLE) / CAST(n_uncapped AS DOUBLE) AS edge_recall
           |FROM m ORDER BY max_cell_size""".stripMargin),
      bench = false),

    // ---- SAMPLED cap eval (round 10, VERDICT r9 #8): the same cap
    //      sweep, but the probe side is restricted to 32 hash-sampled
    //      query vectors (seed 93, same sampler as
    //      ann_recall_eval_sampled) while the CANDIDATE side stays the
    //      full corpus — so the uncapped exact-in-cell baseline costs
    //      |sample|·nProbe·cellSize instead of the full row's
    //      |corpus|·nProbe·cellSize. That kills the quadratic term
    //      that made ann_knn_cap_eval 100×-infeasible by design: THIS
    //      row certifies the cap axis at every decade (the full row
    //      stays as the exhaustive CI-scale gate, the caprecall probe
    //      as the √n-config JSON evidence). Estimand note: recall over
    //      a query sample is an unbiased estimate of per-query edge
    //      recall; the sample is hash-uniform over the id space. ----
    QueryDef("ann_knn_cap_eval_sampled",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qids = graft.operators.Curation
          .exactKSample(emb, col("vec_id"), 32, 93L).select(col("vec_id"))
        val cm = Similarity.sampleCentroids(
          emb, "vec_id", "embedding", nCells = 16, seed = 42L, refineIters = 0)
        // ONE corpus assignment shared by the three cap variants (the
        // caps differ only in their sub-split, derived downstream)
        val cellsStaged = Similarity.assignIvfCells(emb, cm, nProbe = 4)
        def graph(cap: Int) = Similarity.knnJoinIvfWithCentroids(
            emb, cm, k = 3, maxCellSize = cap, probeIds = Some(qids),
            stagedCells = Some(cellsStaged))
          .select(col("qid"), col("neighbor_id"))
        val uncapped = graph(0).stageShare()
        val nu = uncapped.agg(count(lit(1)).as("n_uncapped"))
        val perCap = Seq(8, 64).map { cap =>
          val capped = graph(cap).stageShare()
          val nc = capped.agg(count(lit(1)).as("n_capped"))
          val nh = capped.join(uncapped, Seq("qid", "neighbor_id"))
            .agg(count(lit(1)).as("n_hit"))
          nu.crossJoin(nc).crossJoin(nh)
            .select(lit(cap.toLong).as("max_cell_size"),
              col("n_uncapped"), col("n_capped"), col("n_hit"),
              (col("n_hit").cast("double") / col("n_uncapped").cast("double"))
                .as("edge_recall"))
        }
        perCap.reduce(_ unionByName _).orderBy(col("max_cell_size"))
      },
      oracle = Some {
        val qs = """(SELECT vec_id, embedding FROM embeddings
                    |    ORDER BY (vec_id * 2654435761 + 93) % 4294967296, vec_id
                    |    LIMIT 32)""".stripMargin
        s"""WITH ${knnJoinCtes(k = 3, nProbe = 4, maxCellSize = 1000000,
             p = "u_", querySrc = qs)},
           |${knnJoinCtes(k = 3, nProbe = 4, maxCellSize = 8,
             p = "c8_", querySrc = qs)},
           |${knnJoinCtes(k = 3, nProbe = 4, maxCellSize = 64,
             p = "c64_", querySrc = qs)},
           |ug AS (SELECT qid, neighbor_id FROM u_ranked WHERE rank <= 3),
           |c8g AS (SELECT qid, neighbor_id FROM c8_ranked WHERE rank <= 3),
           |c64g AS (SELECT qid, neighbor_id FROM c64_ranked WHERE rank <= 3),
           |m AS (
           |  SELECT CAST(8 AS BIGINT) AS max_cell_size,
           |    (SELECT COUNT(*) FROM ug) AS n_uncapped,
           |    (SELECT COUNT(*) FROM c8g) AS n_capped,
           |    (SELECT COUNT(*) FROM c8g JOIN ug USING (qid, neighbor_id)) AS n_hit
           |  UNION ALL
           |  SELECT CAST(64 AS BIGINT) AS max_cell_size,
           |    (SELECT COUNT(*) FROM ug) AS n_uncapped,
           |    (SELECT COUNT(*) FROM c64g) AS n_capped,
           |    (SELECT COUNT(*) FROM c64g JOIN ug USING (qid, neighbor_id)) AS n_hit
           |)
           |SELECT max_cell_size, n_uncapped, n_capped, n_hit,
           |  CAST(n_hit AS DOUBLE) / CAST(n_uncapped AS DOUBLE) AS edge_recall
           |FROM m ORDER BY max_cell_size""".stripMargin
      },
      // bench-rotated IN round 10 (three graph builds per run)
      bench = true),

    // ---- nPROBE axis of the ANN eval family (round 12, VERDICT r11
    //      #8): index / dimension / quantization / cap axes are
    //      certified; this row closes the remaining tuning knob a
    //      100 TB IVF deployment sweeps — recall@3 vs nProbe ∈
    //      {1,2,4,8} at the pinned quantizer, sampled queries (the
    //      cap_eval_sampled recipe: probe restriction makes the truth
    //      side cost ∝ sample, not corpus). Truth = nProbe = nCells
    //      uncapped — probing EVERY cell is the exact in-cell
    //      baseline, so recall is against the true top-3, not another
    //      approximation. All five graphs share one staged corpus
    //      assignment and one centroid sample; exact-int hit counts,
    //      IEEE recall ratio. ----
    QueryDef("ann_nprobe_eval_sampled",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qids = graft.operators.Curation
          .exactKSample(emb, col("vec_id"), 32, 94L).select(col("vec_id"))
        val cm = Similarity.sampleCentroids(
          emb, "vec_id", "embedding", nCells = 16, seed = 42L, refineIters = 0)
        // ONE corpus assignment at the WIDEST probe count (16 = every
        // cell): each narrower variant reads its probes as a prefix
        // slice of the shared top-16 list — bit-identical to a fresh
        // kernel pass at its own nProbe (assignIvfCells doc)
        val cellsStaged = Similarity.assignIvfCells(emb, cm, nProbe = 16)
        def graph(nProbe: Int) = Similarity.knnJoinIvfWithCentroids(
            emb, cm, k = 3, nProbe = nProbe, maxCellSize = 0,
            probeIds = Some(qids), stagedCells = Some(cellsStaged))
          .select(col("qid"), col("neighbor_id"))
        val exact = graph(16).stageShare()
        val ne = exact.agg(count(lit(1)).as("n_exact"))
        val perProbe = Seq(1, 2, 4, 8).map { np =>
          val probed = graph(np).stageShare()
          val nc = probed.agg(count(lit(1)).as("n_probed"))
          val nh = probed.join(exact, Seq("qid", "neighbor_id"))
            .agg(count(lit(1)).as("n_hit"))
          ne.crossJoin(nc).crossJoin(nh)
            .select(lit(np.toLong).as("n_probe"),
              col("n_exact"), col("n_probed"), col("n_hit"),
              (col("n_hit").cast("double") / col("n_exact").cast("double"))
                .as("recall_at_3"))
        }
        perProbe.reduce(_ unionByName _).orderBy(col("n_probe"))
      },
      oracle = Some {
        val qs = """(SELECT vec_id, embedding FROM embeddings
                    |    ORDER BY (vec_id * 2654435761 + 94) % 4294967296, vec_id
                    |    LIMIT 32)""".stripMargin
        val probeCtes = Seq(1, 2, 4, 8, 16).map(np =>
          knnJoinCtes(k = 3, nProbe = np, maxCellSize = 1000000,
            p = s"p${np}_", querySrc = qs)).mkString(",\n")
        val graphs = Seq(1, 2, 4, 8, 16).map(np =>
          s"g$np AS (SELECT qid, neighbor_id FROM p${np}_ranked WHERE rank <= 3)")
          .mkString(",\n")
        val rows = Seq(1, 2, 4, 8).map(np =>
          s"""  SELECT CAST($np AS BIGINT) AS n_probe,
             |    (SELECT COUNT(*) FROM g16) AS n_exact,
             |    (SELECT COUNT(*) FROM g$np) AS n_probed,
             |    (SELECT COUNT(*) FROM g$np JOIN g16 USING (qid, neighbor_id)) AS n_hit""".stripMargin)
          .mkString("\n  UNION ALL\n")
        s"""WITH $probeCtes,
           |$graphs,
           |m AS (
           |$rows
           |)
           |SELECT n_probe, n_exact, n_probed, n_hit,
           |  CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_at_3
           |FROM m ORDER BY n_probe""".stripMargin
      },
      bench = false),

    // ---- mutual-kNN clustering (the corpus-map recipe): kNN graph →
    // keep only MUTUAL edges (a ∈ knn(b) ∧ b ∈ knn(a) — the standard
    // symmetrization that kills hub-induced chains) → connected
    // components. STAR-CC, not min-label: a mutual-kNN graph is sparse
    // chains, whose diameter grows with corpus size — min-label CC needs
    // O(diameter) rounds and silently under-merged at sf0.1 (chains
    // longer than its iteration cap), while large/small-star converges
    // in O(log n) rounds at any diameter. Oracle = the same
    // cells/probes/ranking SQL + a recursive-CTE transitive closure, so
    // the WHOLE pipeline is hash-exact. ----
    QueryDef("embed_mutual_knn_clusters",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val knn = Similarity.knnJoinIvf(emb, k = 3, maxCellSize = 64)
          .select(col("qid").as("a"), col("neighbor_id").as("b"))
          .stageCheckpoint() // probe side of the mutual join reads it twice
        val mutual = knn
          .join(knn.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"))
          .where(col("a") < col("b"))
        val nodes = emb.select(col("vec_id").as("node"))
        Curation.connectedComponentsStar(mutual, nodes)
          .withColumn("cluster_size",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("cluster_id"))))
          .select(col("node").as("vec_id"), col("cluster_id"),
            col("cluster_size"), (col("node") === col("cluster_id")).as("is_representative"))
          .orderBy(col("vec_id"))
      },
      oracle = Some(
        s"""WITH RECURSIVE ${knnJoinCtes(k = 3, nProbe = 4, maxCellSize = 64)},
           |knn AS MATERIALIZED (
           |  SELECT qid, neighbor_id FROM ranked WHERE rank <= 3
           |),
           |mutual AS MATERIALIZED (
           |  SELECT k1.qid AS a, k1.neighbor_id AS b
           |  FROM knn k1 JOIN knn k2
           |    ON k2.qid = k1.neighbor_id AND k2.neighbor_id = k1.qid
           |  WHERE k1.qid < k1.neighbor_id
           |),
           |sym AS MATERIALIZED (SELECT a AS x, b AS y FROM mutual
           |        UNION ALL SELECT b AS x, a AS y FROM mutual),
           |reach AS (
           |  SELECT vec_id AS node, vec_id AS lab FROM embeddings
           |  UNION
           |  SELECT s.y AS node, r.lab FROM reach r JOIN sym s ON s.x = r.node
           |),
           |lab AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)
           |SELECT node AS vec_id, cluster_id,
           |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           |  node = cluster_id AS is_representative
           |FROM lab ORDER BY vec_id""".stripMargin)),

    // ---- PQ (product quantization) approximate top-k: L2-normalized
    // vectors encoded as 16 subspace codes (4 dims each, 16 Knuth-hash-
    // sampled codewords -> 64 bits/vector, 32x compression), ADC
    // shortlist of 100 by integerized partial sums, then EXACT cosine
    // re-rank of the shortlist — the standard PQ serving shape (float
    // math touches only the shortlist). Every stage, including the
    // shortlist cut and the re-rank, hash-matches DuckDB recomputing
    // from the same sampled codebooks. ----
    QueryDef("ann_pq_topk",
      (s, d) => Similarity.pqTopK(
        Tables.embeddings(s, d), queryVectors(s, d), k = 5)
        .orderBy(col("qid"), col("rank")),
      oracle = Some(
        raw"""WITH norm AS (
             |  SELECT vec_id, embedding,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
             |      sqrt(list_sum(list_transform(embedding,
             |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
             |  FROM embeddings
             |), samp AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, nv
             |  FROM (
             |    SELECT vec_id, nv FROM norm
             |    ORDER BY (vec_id * 2654435761 + 77) % 4294967296, vec_id
             |    LIMIT 16
             |  )
             |), cb AS (
             |  SELECT sp.s AS s, samp.code AS code,
             |    samp.nv[sp.s*4+1 : sp.s*4+4] AS cw
             |  FROM samp CROSS JOIN (SELECT unnest(range(0, 16)) AS s) sp
             |), enc AS (
             |  SELECT vec_id, s, code FROM (
             |    SELECT e.vec_id, cb.s, cb.code,
             |      row_number() OVER (PARTITION BY e.vec_id, cb.s ORDER BY
             |        list_sum(list_transform(list_zip(e.nv[cb.s*4+1 : cb.s*4+4], cb.cw),
             |          p -> (p[1] - p[2]) * (p[1] - p[2]))) ASC, cb.code) AS r
             |    FROM norm e CROSS JOIN cb
             |  ) WHERE r = 1
             |), pd AS (
             |  SELECT q.vec_id AS qid, cb.s, cb.code,
             |    CAST(ROUND(list_sum(list_transform(list_zip(q.nv[cb.s*4+1 : cb.s*4+4], cb.cw),
             |      p -> (p[1] - p[2]) * (p[1] - p[2]))) * 1000000, 0) AS BIGINT) AS pdl
             |  FROM norm q CROSS JOIN cb
             |  WHERE q.vec_id < 20
             |), adc AS (
             |  SELECT pd.qid, enc.vec_id AS cid,
             |    CAST(sum(pd.pdl) AS DOUBLE) / 1000000 AS adc
             |  FROM enc JOIN pd ON pd.s = enc.s AND pd.code = enc.code
             |  WHERE enc.vec_id <> pd.qid
             |  GROUP BY 1, 2
             |), shortlisted AS (
             |  SELECT qid, cid FROM (
             |    SELECT qid, cid,
             |      row_number() OVER (PARTITION BY qid ORDER BY adc ASC, cid) AS sr
             |    FROM adc
             |  ) WHERE sr <= 100
             |), rr AS (
             |  SELECT sl.qid AS qid, sl.cid AS neighbor_id,
             |    ${Det.fixedSql(cosSqlOf("q.embedding", "c.embedding"), 6)} AS cos
             |  FROM shortlisted sl
             |  JOIN embeddings c ON c.vec_id = sl.cid
             |  JOIN embeddings q ON q.vec_id = sl.qid
             |), ranked AS (
             |  SELECT qid, neighbor_id, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
             |  FROM rr
             |)
             |SELECT qid, rank, neighbor_id, cos FROM ranked
             |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // ---- int8 symmetric quantization of the embedding column: the
    // storage/bandwidth dial every vector store exposes. Per-vector
    // scale = 127/max|x|; reconstruction MSE is order-exact list
    // arithmetic (squares via multiplication, not libm pow). ----
    QueryDef("embed_quantize",
      (s, d) => {
        // One-pass native kernel (VectorExpressions.QuantStats): absmax,
        // first quantized value, quantized sum, reconstruction MSE —
        // semantics identical to the composite-HOF form (same oracle),
        // ~100x cheaper than interpreted transform/aggregate/zip_with.
        val qs = quantStats(col("embedding"))
        Tables.embeddings(s, d)
          .select(
            col("vec_id"),
            qs.getField("absmax").as("absmax"),
            qs.getField("q1").as("q1"),
            qs.getField("q_sum").as("q_sum"),
            Det.fixed(qs.getField("mse"), 12).as("mse"))
          .orderBy(col("vec_id"))
      },
      oracle = Some(
        s"""WITH staged AS (
           |  SELECT vec_id, embedding,
           |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax
           |  FROM embeddings
           |), quant AS (
           |  SELECT vec_id, embedding, absmax,
           |    list_transform(embedding,
           |      x -> CAST(ROUND(CAST(x AS DOUBLE) * (127.0 / absmax), 0) AS INT)) AS q
           |  FROM staged
           |)
           |SELECT vec_id, absmax, q[1] AS q1,
           |  CAST(list_sum(q) AS BIGINT) AS q_sum,
           |  ${Det.fixedSql(
              "list_sum(list_transform(list_zip(embedding, q), " +
              "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) / (127.0 / absmax)) * " +
              "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) / (127.0 / absmax)))) / len(embedding)", 12)} AS mse
           |FROM quant ORDER BY vec_id""".stripMargin),
      bench = false),
    // to the first 300 vectors -- all-pairs is the verifier, not the scale
    // path). Fixture embeddings are near-random (max pairwise cos ~0.46),
    // so threshold 0.4 exercises a real, non-empty result. ----
    QueryDef("dedup_embedding_exact",
      (s, d) => Similarity.bruteForceNearDupPairs(
        Tables.embeddings(s, d).where(col("vec_id") < 300), threshold = 0.4)
        .orderBy(col("a"), col("b")),
      oracle = Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300)
           |SELECT q.vec_id AS a, c.vec_id AS b, ${Det.fixedSql(cosSql, 6)} AS cos
           |FROM e q JOIN e c ON q.vec_id < c.vec_id
           |WHERE ${Det.fixedSql(cosSql, 6)} >= 0.4
           |ORDER BY a, b""".stripMargin),
      bench = false),

    // ---- embedding-cosine near-dup at scale: hyperplane-LSH bucket
    // self-join for candidates, exact-cosine verify. Oracle reproduces
    // the identical buckets from the embedded plane constants. ----
    QueryDef("dedup_embedding_lsh",
      (s, d) => Similarity.lshNearDupPairs(
        Tables.embeddings(s, d), threshold = 0.4, dim = 64)
        .orderBy(col("a"), col("b")),
      oracle = Some(
        s"""WITH planes(t, bitval, coeffs) AS (VALUES
           |  ${planesValuesSql(dim = 64, bits = 4, tables = 8, seed = 42L)}
           |),
           |sig AS (
           |  SELECT e.vec_id, p.t, $sigAggSql AS sig
           |  FROM embeddings e, planes p
           |  GROUP BY e.vec_id, p.t
           |),
           |cand AS (
           |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
           |  FROM sig l JOIN sig r ON r.t = l.t AND r.sig = l.sig
           |  WHERE l.vec_id < r.vec_id
           |)
           |SELECT cand.a, cand.b,
           |  ${Det.fixedSql(cosSqlOf("ea.embedding", "eb.embedding"), 6)} AS cos
           |FROM cand
           |JOIN embeddings ea ON ea.vec_id = cand.a
           |JOIN embeddings eb ON eb.vec_id = cand.b
           |WHERE ${Det.fixedSql(cosSqlOf("ea.embedding", "eb.embedding"), 6)} >= 0.4
           |ORDER BY a, b""".stripMargin)),

    // ---- Hard-negative mining for contrastive training: for each query
    //      vector, the top-3 most-similar vectors carrying a DIFFERENT
    //      label — the pairs that teach a metric model the most. Same
    //      broadcast + window shape as ann_cosine_topk (the 20-row query
    //      side broadcasts; the corpus scan stays partition-parallel and
    //      the rank window is keyed per query), plus a label filter that
    //      prunes candidates before the kernel runs. ----
    QueryDef("embed_hard_negatives",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlabel"))
        val scored = emb.join(broadcast(q),
            col("qid") =!= col("vec_id") && col("qlabel") =!= col("label"))
          .withColumn("cos", Det.fixed(cosineSim(col("qvec"), col("embedding")), 6))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("vec_id").as("neg_id"),
            col("label").as("neg_label"), col("cos"))
          .orderBy(col("qid"), col("rank"))
      },
      oracle = Some(
        s"""WITH scored AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS neg_id, c.label AS neg_label,
           |    ${Det.fixedSql(cosSql, 6)} AS cos
           |  FROM embeddings q JOIN embeddings c
           |    ON q.vec_id < 20 AND c.vec_id <> q.vec_id AND c.label <> q.label
           |), ranked AS (
           |  SELECT qid, neg_id, neg_label, cos,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neg_id) AS rank
           |  FROM scored
           |)
           |SELECT qid, rank, neg_id, neg_label, cos FROM ranked
           |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),
      bench = false),

    // ---- Oracle-exact logistic regression (LogReg.fitFixedPoint): a
    //      5-iteration full-batch GD fit on the first 4 embedding dims
    //      predicting label >= 5, weights AND train accuracy hashed
    //      against a chained-CTE DuckDB oracle — the integerized-
    //      iteration recipe of em_gmm_fixed/graph_pagerank applied to a
    //      supervised trainer (exp() ulp wobble dies in per-point
    //      gradient rounding; the >= 0.5 decision runs on bit-identical
    //      probabilities). ----
    QueryDef("fit_logreg_fixed",
      (s, d) => {
        val feats = (1 to 4).map(i => s"f$i")
        val emb = Tables.embeddings(s, d).select(
          ((1 to 4).map(i =>
            element_at(col("embedding"), i).cast("double").as(s"f$i")) :+
            when(col("label") >= 5, 1.0).otherwise(0.0).as("y")): _*)
        val w = LogReg.fitFixedPoint(emb, feats, "y", iters = 5, lr = 0.5)
        LogReg.score(emb, feats, w)
          .agg(count(lit(1)).as("n"),
            count(when(col("pred") === col("y"), 1)).as("n_correct"))
          .select(lit(w(0)).as("b"), lit(w(1)).as("w1"), lit(w(2)).as("w2"),
            lit(w(3)).as("w3"), lit(w(4)).as("w4"),
            col("n"), col("n_correct"))
      },
      oracle = Some(logRegOracleSql(iters = 5)),
      bench = false),

    // ---- Cholesky whitening, SELF-PROVING: the query output is the
    //      covariance of the whitened vectors over the first 8 dims —
    //      must be ≈ I (diag ~1, off-diag ~0, asserted in
    //      SimilaritySpec). No DuckDB oracle (driver-side Cholesky is
    //      not SQL-expressible) → rows-only check + behavioral spec,
    //      like the other native-double iterative fits. ----
    QueryDef("embed_whitening",
      (s, d) => {
        val w = Similarity.whiten(Tables.embeddings(s, d))
          .filter(col("i") < 8)
        w.as("p").join(w.as("q"),
            col("p.vec_id") === col("q.vec_id") && col("q.i") >= col("p.i"))
          .groupBy(col("p.i").as("i"), col("q.i").as("j"))
          .agg((avg(col("p.y") * col("q.y"))
            - avg(col("p.y")) * avg(col("q.y"))).as("cov_w"))
          .select(col("i"), col("j"), round(col("cov_w"), 3).as("cov_w"))
          .orderBy(col("i"), col("j"))
      },
      oracle = None,
      bench = false),

    // ---- whitening, ORACLE-EXACT twin over the first 8 dims: the model
    //      (μ, A = L⁻¹) has integerized distributed inputs (fixedAvg
    //      means, fixed-point covariance sums), so the driver-side
    //      Cholesky + forward substitution is a fixed IEEE op sequence on
    //      exact inputs — mirrored operation-for-operation by an UNROLLED
    //      scalar CTE chain in DuckDB (36 L entries + 36 A entries as
    //      lateral column aliases). Projection is an exact integerized
    //      per-term sum. The em_gmm_fixed recipe applied to whiten. ----
    QueryDef("embed_whitening_fixed",
      (s, d) => {
        val emb8 = Tables.embeddings(s, d)
          .select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding"))
        val (mu, a) = Similarity.whitenModel(emb8)
        val dd = mu.length
        import s.implicits._
        val rows = for (i <- 0 until dd; j <- 0 to i)
          yield (i, j, a(i)(j), mu(j))
        val am = rows.toDF("i", "j", "a", "mu")
        val x = emb8.select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("j", "x")))
        x.join(broadcast(am), Seq("j"))
          .groupBy(col("vec_id"), col("i"))
          .agg((sum(Det.toFixed(col("a") * (col("x") - col("mu")), 9))
            .cast("double") / lit(1e9)).as("yraw"))
          .select(col("vec_id"), col("i"), Det.fixed(col("yraw"), 6).as("y"))
          .orderBy(col("vec_id"), col("i"))
      },
      oracle = Some(whitenFixedOracleSql(8)),
      bench = false)
  )

  /** Unrolled scalar oracle for [[Similarity.whitenModel]] + integerized
    * projection, dimension `d` (d=8 → 36+36 generated scalar columns).
    * Mirrors the Scala op ORDER exactly: left-to-right subtraction chains
    * in the Cholesky/substitution, (epsRel·Σdiag)/d for ε, and the same
    * integerized mean/covariance sums as the Spark side. */
  private def whitenFixedOracleSql(d: Int, covScale: Int = 7): String = {
    val fc = "1" + ("0" * covScale)
    // pivoted covariance cell name for matrix entry (i,j) (stored upper)
    def cc(i: Int, j: Int) = if (i <= j) s"c_${i}_$j" else s"c_${j}_$i"
    val pivotCols = (for (i <- 0 until d; j <- i until d) yield
      s"MAX(CASE WHEN i = $i AND j = $j THEN cov END) AS c_${i}_$j")
      .mkString(",\n    ")
    val epsSum = (0 until d).map(i => s"c_${i}_$i").mkString(" + ")
    val cdCols = (0 until d).map(i =>
      s"(c_${i}_$i + eps) AS cd_$i").mkString(",\n    ")
    // ONE CTE PER PIVOT ROW: DuckDB lateral column aliases expand by
    // SUBSTITUTION, so a single SELECT holding the whole 36-entry
    // dependency chain is exponential in expression size (observed: the
    // flat form never finishes). CTE boundaries materialize each row's
    // columns as projections; within a row the substitution depth is
    // at most d.
    val cholCtes = (0 until d).map { i =>
      val prev = if (i == 0) "cw0" else s"chol${i - 1}"
      val cols = (0 to i).map { j =>
        if (i == j) {
          val subs = (0 until i).map(k => s" - l_${i}_$k * l_${i}_$k").mkString
          s"sqrt(cd_$i$subs) AS l_${i}_$i"
        } else {
          val subs = (0 until j).map(k => s" - l_${i}_$k * l_${j}_$k").mkString
          s"((${cc(i, j)}$subs) / l_${j}_$j) AS l_${i}_$j"
        }
      }.mkString(",\n    ")
      s"chol$i AS (\n  SELECT *,\n    $cols\n  FROM $prev\n)"
    }.mkString(",\n")
    // inverse rows reference only strictly earlier rows — clean layering
    val invCtes = (0 until d).map { i =>
      val prev = if (i == 0) s"chol${d - 1}" else s"inv${i - 1}"
      val cols = (0 to i).map { j =>
        val init = if (i == j) "CAST(1.0 AS DOUBLE)" else "CAST(0.0 AS DOUBLE)"
        val subs = (j until i).map(k => s" - l_${i}_$k * a_${k}_$j").mkString
        s"(($init$subs) / l_${i}_$i) AS a_${i}_$j"
      }.mkString(",\n    ")
      s"inv$i AS (\n  SELECT *,\n    $cols\n  FROM $prev\n)"
    }.mkString(",\n")
    // single scan of the final CTE: unnest a struct list instead of 36
    // UNION ALL references (each reference re-evaluates the whole chain)
    val amStructs = (for (i <- 0 until d; j <- 0 to i) yield
      s"{'i': $i, 'j': $j, 'a': a_${i}_$j}").mkString(",\n      ")
    s"""WITH ex AS (
       |  SELECT vec_id, unnest(range(0, $d)) AS j,
       |    unnest(list_transform(embedding[1:$d], t -> CAST(t AS DOUBLE))) AS x
       |  FROM embeddings
       |),
       |mu AS (
       |  SELECT j, ${Det.fixedAvgSql("x", 9)} AS m FROM ex GROUP BY j
       |),
       |pairs AS (
       |  SELECT p.j AS i, q.j AS j, p.x AS xi, q.x AS xj
       |  FROM ex p JOIN ex q ON p.vec_id = q.vec_id AND q.j >= p.j
       |),
       |st AS (
       |  SELECT i, j, count(*) AS n,
       |    SUM(${Det.toFixedSql("xi * xj", covScale)}) AS sxy,
       |    SUM(${Det.toFixedSql("xi", covScale)}) AS sx,
       |    SUM(${Det.toFixedSql("xj", covScale)}) AS sy
       |  FROM pairs GROUP BY 1, 2
       |),
       |c AS (
       |  SELECT i, j,
       |    (CAST(sxy AS DOUBLE) / $fc / CAST(n AS DOUBLE))
       |    - (CAST(sx AS DOUBLE) / $fc / CAST(n AS DOUBLE))
       |    * (CAST(sy AS DOUBLE) / $fc / CAST(n AS DOUBLE)) AS cov
       |  FROM st
       |),
       |cw AS (
       |  SELECT
       |    $pivotCols
       |  FROM c
       |),
       |cw0 AS (
       |  SELECT *,
       |    ((CAST(1e-06 AS DOUBLE) * ($epsSum)) / CAST($d.0 AS DOUBLE)) AS eps,
       |    $cdCols
       |  FROM cw
       |),
       |$cholCtes,
       |$invCtes,
       |am AS (
       |  SELECT s['i'] AS i, s['j'] AS j, s['a'] AS a FROM (
       |    SELECT unnest([
       |      $amStructs
       |    ]) AS s FROM inv${d - 1}
       |  )
       |)
       |SELECT e.vec_id, am.i AS i,
       |  ${Det.fixedSql(
          s"CAST(SUM(${Det.toFixedSql("am.a * (e.x - mu.m)", 9)}) AS DOUBLE)" +
            " / 1000000000", 6)} AS y
       |FROM ex e
       |JOIN mu ON mu.j = e.j
       |JOIN am ON am.j = e.j
       |GROUP BY 1, 2 ORDER BY vec_id, i""".stripMargin
  }

  /** Chained-CTE oracle for [[graft.operators.LogReg.fitFixedPoint]]:
    * one (g_t, w_t) CTE pair per GD iteration. Every float op is either
    * an exact BIGINT sum of integerized per-point gradients, or IEEE
    * arithmetic on identical inputs, mirroring the Scala update
    * `w - lr * (g / 10^9 / n)` operation-for-operation. */
  private def logRegOracleSql(iters: Int): String = {
    val zSql = "(w.b + e.x1 * w.w1 + e.x2 * w.w2 + e.x3 * w.w3 + e.x4 * w.w4)"
    val pSql = s"CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-$zSql))"
    def gradCte(t: Int) =
      s"""g$t AS (
         |  SELECT
         |    SUM(${Det.toFixedSql("p - y", 9)}) AS gb,
         |    SUM(${Det.toFixedSql("(p - y) * x1", 9)}) AS g1,
         |    SUM(${Det.toFixedSql("(p - y) * x2", 9)}) AS g2,
         |    SUM(${Det.toFixedSql("(p - y) * x3", 9)}) AS g3,
         |    SUM(${Det.toFixedSql("(p - y) * x4", 9)}) AS g4
         |  FROM (SELECT e.*, $pSql AS p FROM e CROSS JOIN w${t - 1} w)
         |)""".stripMargin
    def upd(gc: String) =
      s"CAST(0.5 AS DOUBLE) * (CAST($gc AS DOUBLE) / 1000000000 / nn.c)"
    def wCte(t: Int) =
      s"""w$t AS (
         |  SELECT w.b - ${upd("g.gb")} AS b, w.w1 - ${upd("g.g1")} AS w1,
         |    w.w2 - ${upd("g.g2")} AS w2, w.w3 - ${upd("g.g3")} AS w3,
         |    w.w4 - ${upd("g.g4")} AS w4
         |  FROM w${t - 1} w CROSS JOIN g$t g CROSS JOIN nn
         |)""".stripMargin
    val chain = (1 to iters).map(t => s"${gradCte(t)},\n${wCte(t)}").mkString(",\n")
    s"""WITH e AS (
       |  SELECT CAST(embedding[1] AS DOUBLE) AS x1,
       |    CAST(embedding[2] AS DOUBLE) AS x2,
       |    CAST(embedding[3] AS DOUBLE) AS x3,
       |    CAST(embedding[4] AS DOUBLE) AS x4,
       |    CASE WHEN label >= 5 THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(0.0 AS DOUBLE) END AS y
       |  FROM embeddings
       |),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM e),
       |w0 AS (SELECT CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS w1,
       |  CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3,
       |  CAST(0.0 AS DOUBLE) AS w4),
       |$chain,
       |scored AS (
       |  SELECT e.y,
       |    CASE WHEN $pSql >= CAST(0.5 AS DOUBLE) THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(0.0 AS DOUBLE) END AS pred
       |  FROM e CROSS JOIN w$iters w
       |)
       |SELECT w.b, w.w1, w.w2, w.w3, w.w4, s.n, s.n_correct
       |FROM w$iters w CROSS JOIN (
       |  SELECT COUNT(*) AS n,
       |    COUNT(CASE WHEN pred = y THEN 1 END) AS n_correct
       |  FROM scored) s""".stripMargin
  }
}
