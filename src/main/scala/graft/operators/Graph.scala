package graft.operators

import graft.util.Det
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Stage.StageOps

/** Graph analytics over edge tables — the iterative-driver-loop shape the
  * reference uses for EM (`Main.scala:72-89`: driver loop, one distributed
  * pass per step) applied to link analysis.
  *
  * Determinism contract: per-iteration neighbor contributions are
  * integerized ([[Det.toFixed]]) before summation, so each iteration's
  * rank vector is bit-identical regardless of partitioning — and
  * reproducible in any engine that rounds half away from zero. That makes
  * a fixed-iteration PageRank DuckDB-oracle-hashable (chained CTEs),
  * unlike a raw float formulation whose sum order drifts.
  *
  * Scale (100 TB design point): per iteration the plan is
  * edges ⋈ ranks (shuffle keyed on src) and ONE groupBy on dst — the
  * per-node zero/self rows union into that same aggregate shuffle, so
  * there is no separate nodes ⟕ contributions join stage (round 7; was
  * a third shuffle). The edge table — the big side — is checkpointed
  * once and its partitioning on `src` is reused every iteration; only
  * the nodes-sized rank table (orders of magnitude smaller) moves per
  * step. Lineage truncation runs ONCE, on the final iterate: the rank
  * chain has a single consumer per step, so the whole fixed-iteration
  * fit compiles into one DAG whose shuffle/broadcast stages the
  * scheduler computes exactly once — intermediate eager checkpoints
  * only added a scheduler round-trip plus a block write/read per call
  * (every-other-iteration truncation measured 4.38 s median vs 3.76
  * final-only at sf0.1 ×5 iterations; each rep faster pairwise). The
  * final checkpoint pins the fitted table so caller actions never
  * re-execute the fit, and bounds executor-loss recovery at one fit.
  * Celebrity in-degree skew is AQE's skew-join territory; the
  * integerized contributions keep the hot-key sum exact.
  */
object Graph {

  /** Fixed-iteration PageRank over directed `edges(src, dst)`.
    *
    * rank_{i+1}(v) = jump/N + damping * Σ_{u→v} fix(rank_i(u)/outdeg(u))
    *
    * where `fix` rounds the contribution to `contribScale` decimals and
    * the sum runs exactly in BIGINT units. Nodes are the edge-induced
    * vertex set; dangling nodes (no out-edges) simply contribute nothing
    * (their mass leaks, the standard simplification). Returns
    * `(node, rank)` at full double precision — present through
    * [[Det.fixed]] when feeding an oracle hash.
    */
  /** @param broadcastNodesMax broadcast the per-iteration rank table
    *        into the edge join when the graph has at most this many
    *        nodes (the deliberate join-strategy pick of guide §3.1).
    *        Sizing (round 13, ADVICE): a rank row is 16 bytes raw, but
    *        a BroadcastHashJoin build is a HashedRelation at roughly
    *        3–6× raw size, and each iteration produces a NEW broadcast
    *        whose predecessors are released only by the ContextCleaner —
    *        so the cap must bound (HashedRelation factor) × (iters in
    *        flight), not just one raw payload. The 1M default keeps one
    *        build ≲ 100 MB and a 10-iteration accumulation ≲ 1 GB of
    *        driver/executor broadcast blocks. Under the cap each
    *        iteration's edges⋈ranks is a map-side probe of the staged
    *        edge table — no shuffle or sort of either side — leaving
    *        the dst aggregation as the iteration's one exchange. Past
    *        the cap the join falls back to the shuffle path unchanged
    *        (ranks — the small side — moves; the staged edge
    *        partitioning reuses). Ranks are integerized before the
    *        exact BIGINT sum, so the result is bit-identical under
    *        either strategy. */
  def pageRank(
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      jump: Double = 0.15,
      contribScale: Int = 12,
      broadcastNodesMax: Long = 1000000L): DataFrame = {
    val unit = math.pow(10.0, contribScale.toDouble) // exactly 10^k for k<=15
    // Stage the INPUT edge derivation once: deg, outE and nodes all read
    // the staged frame, so an upstream scan+distinct pipeline (e.g. the
    // bipartite projection in GraphQueries) runs one time, not once per
    // consumer branch.
    val e0 = edges.stageCheckpoint()
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // big side: stage once, reuse the src partitioning across iterations
    val outE = e0.join(deg, Seq("src")).stageCheckpoint()
    // lineage cut + the node count in ONE job (Stage.checkpointWith)
    val (nodes, n) = graft.util.Stage.checkpointWith(
      outE.select(col("src").as("node"))
        .union(outE.select(col("dst").as("node")))
        .distinct())(_.count())
    val base = lit(jump) / lit(n.toDouble)
    // initial ranks: a constant projection over the staged nodes — no
    // checkpoint of its own (it would only re-materialize nodes + 8 bytes)
    var ranks = nodes
      .select(col("node"), (lit(1.0) / lit(n.toDouble)).as("rank"))
    for (i <- 1 to iters) {
      val ranksSrc = ranks.withColumnRenamed("node", "src")
      val contrib = outE
        .join(if (n <= broadcastNodesMax) broadcast(ranksSrc) else ranksSrc,
          Seq("src"))
        .select(col("dst").as("node"),
          Det.toFixed(col("rank") / col("outdeg"), contribScale).as("c"))
        // a zero contribution per node rides the SAME groupBy shuffle —
        // this replaces the former `nodes ⟕ contributions` join (one
        // fewer join stage per iteration) while guaranteeing in-degree-0
        // nodes still appear with acc = 0; adding 0L to an exact BIGINT
        // sum leaves every rank bit-identical
        .unionByName(nodes.select(col("node"), lit(0L).as("c")))
        .groupBy(col("node")).agg(sum(col("c")).as("acc"))
      ranks = contrib
        .select(col("node"),
          (base + lit(damping) * (col("acc").cast("double") / lit(unit)))
            .as("rank"))
      // Lineage truncation on the FINAL iterate only: each intermediate
      // stageCheckpoint is an eager action — a scheduler round-trip plus
      // a block write/read — and buys nothing here, because the rank
      // chain has one consumer per step: the final action evaluates the
      // whole fit as one DAG, and shuffle map outputs are reused across
      // the per-iteration broadcast jobs within that execution (no
      // recompute). The final checkpoint pins the fitted ranks so
      // however many actions the caller runs, the fit never re-executes
      // — and on a cluster it bounds executor-loss recovery at one fit.
      if (i == iters) ranks = ranks.stageCheckpoint()
    }
    ranks
  }

  /** Multi-source BFS hop distance over directed `edges(src, dst)`:
    * dist(v) = min #hops from any node in `sources(node)`, capped at
    * `maxHops`; unreached nodes are absent from the result (no sentinel
    * row — callers outer-join if they want NULL-distance rows).
    *
    * Frontier-delta iteration — the property that makes BFS cheap at
    * scale: hop i joins edges against ONLY the nodes first reached at
    * hop i−1 (the frontier), not the whole distance table, so per-step
    * shuffle cost is Σ outdeg(frontier), which shrinks as the reachable
    * set saturates. The settled set participates only as the build side
    * of a left-anti join (first-reach wins — a node's hop count is final
    * the moment it appears, the BFS invariant on unit weights). Compare
    * [[minLabelPropagation]], which re-aggregates every node's label
    * every step: right for label CONVERGENCE semantics, wasteful for
    * monotone first-reach semantics.
    *
    * Each frontier is checkpointed: it is both the next join's probe
    * side and a branch of the growing distance union, and it is the
    * DELTA (small) — truncating there keeps the per-iteration DAG flat
    * while the big edge table stays staged once, partitioned on src.
    * Pure integer ops throughout → DuckDB-oracle hash-exact with a
    * chained-CTE unroll, no fixed-point tricks. */
  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.stageCheckpoint()
    var frontier = sources.select(col("node")).distinct().stageCheckpoint()
    var dist = frontier.select(col("node"), lit(0).as("hops"))
    for (i <- 1 to maxHops) {
      val next = e
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(i).as("hops"))
        .stageCheckpoint()
      dist = dist.unionByName(next)
      frontier = next.select("node")
    }
    dist
  }

  /** Fixed-iteration synchronous min-label propagation over directed
    * `edges(src, dst)` (pass both directions for undirected semantics):
    * each step every node takes the minimum label among itself and its
    * in-neighbors, so after `iters` steps label(v) = min node id within
    * `iters` hops — a bounded connected-components labeling. Pure integer
    * min/join ops, so it is exactly oracle-reproducible with no
    * fixed-point tricks. The unbounded fixpoint (loop until no change)
    * is [[Curation.connectedComponents]].
    */
  def minLabelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    // input staged first; nodes derives from it (upstream pipeline runs once)
    val e = edges.stageCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().stageCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("lab"))
    for (i <- 1 to iters) {
      // own label unions into the neighbor aggregate (same min, same
      // groupBy shuffle) — replaces the former labels ⟕ nbr join, one
      // fewer join stage per iteration; min(own ∪ in-neighbor labels) ≡
      // least(lab, coalesce(nbr_lab, lab))
      labels = e.join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("lab"))
        .unionByName(labels)
        .groupBy(col("node")).agg(min(col("lab")).as("lab"))
      // same final-only truncation as pageRank: one action per fit
      if (i == iters) labels = labels.stageCheckpoint()
    }
    labels
  }
}
