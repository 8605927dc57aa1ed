package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Graph
import graft.util.Det
import org.apache.spark.sql.functions._
import graft.util.Stage.StageOps

/** Graph analytics over the part–supplier bipartite graph induced by
  * lineitem (edges = distinct (l_partkey, l_suppkey) pairs, both
  * directions; part nodes = 2·key, supplier nodes = 2·key+1 so the two
  * key spaces can't collide).
  *
  * Both queries are fixed-iteration driver loops — the reference's own
  * execution shape (`Main.scala:72-89`) — and both are DuckDB-oracle
  * hash-exact: PageRank because contributions are integerized before
  * summation (Det fixed-point, order-free), label propagation because it
  * is pure integer min/join. The oracle unrolls the iterations as
  * chained CTEs.
  */
object GraphQueries {

  /** The shared graph CTE prefix (pairs → symmetric edges → nodes).
    *
    * Every CTE here and in the per-iteration chains below is
    * `MATERIALIZED`: DuckDB inlines single-reference CTEs by default, so
    * without the hint the unrolled iteration chain r5(r4(r3(...)))
    * becomes one five-level nested join pipeline — fine at sf0.01, but
    * at the 100× scale slice the inlined plan exploded past 77 GB of
    * sort temp before finishing. With MATERIALIZED each iteration is
    * evaluated once into a temp table (exactly how the Spark side runs
    * it), and the same 100× compare completes in ~7 min with zero
    * spill. Identical semantics/rows either way (verified hash-exact at
    * sf0.01, 10× and 100×); the hint is evaluation strategy only. */
  private def graphCtes(pairFilter: String): String =
    raw"""pairs AS MATERIALIZED (
         |  SELECT DISTINCT CAST(l_partkey * 2 AS BIGINT) AS a,
         |                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS b
         |  FROM lineitem$pairFilter
         |),
         |edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
         |          UNION ALL SELECT b AS src, a AS dst FROM pairs),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)""".stripMargin

  private def pagerankSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      raw"""r$i AS MATERIALIZED (
           |  SELECT nd.node,
           |    CAST(0.15 AS DOUBLE) / (SELECT cnt FROM n)
           |      + CAST(0.85 AS DOUBLE) *
           |        (CAST(COALESCE(s.acc, 0) AS DOUBLE) / CAST(1000000000000 AS DOUBLE)) AS pr
           |  FROM nodes nd LEFT JOIN (
           |    SELECT e.dst AS node,
           |      SUM(${Det.toFixedSql(s"r.pr / d.outdeg", 12)}) AS acc
           |    FROM edges e
           |    JOIN r${i - 1} r ON e.src = r.node
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON s.node = nd.node
           |)""".stripMargin
    }.mkString(",\n")
    raw"""WITH ${graphCtes("")},
         |n AS MATERIALIZED (SELECT COUNT(*) AS cnt FROM nodes),
         |deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / (SELECT cnt FROM n) AS pr FROM nodes),
         |$iterCtes
         |SELECT node,
         |  CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
         |  ${Det.fixedSql(s"r$iters.pr", 9)} AS pagerank
         |FROM r$iters ORDER BY node""".stripMargin
  }

  private def labelPropSql(iters: Int, pairFilter: String): String = {
    val iterCtes = (1 to iters).map { i =>
      raw"""l$i AS MATERIALIZED (
           |  SELECT l.node, LEAST(l.lab, COALESCE(m.nbr_lab, l.lab)) AS lab
           |  FROM l${i - 1} l LEFT JOIN (
           |    SELECT e.dst AS node, MIN(p.lab) AS nbr_lab
           |    FROM edges e JOIN l${i - 1} p ON e.src = p.node
           |    GROUP BY e.dst) m ON m.node = l.node
           |)""".stripMargin
    }.mkString(",\n")
    raw"""WITH ${graphCtes(pairFilter)},
         |l0 AS MATERIALIZED (SELECT node, node AS lab FROM nodes),
         |$iterCtes
         |SELECT lf.node,
         |  CASE WHEN lf.node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
         |  lf.lab AS label
         |FROM l$iters lf ORDER BY lf.node""".stripMargin
  }

  /** Chained-CTE unroll of the frontier BFS ([[Graph.bfsHops]]): d_i =
    * settled set after hop i, f_i = the hop-i frontier (delta); the
    * NOT-IN anti filter mirrors the Spark left-anti (node keys are never
    * NULL, so NOT IN is safe). */
  private def bfsHopsSql(maxHops: Int, pairFilter: String,
      seeds: Seq[Long]): String = {
    val seedList = seeds.mkString(", ")
    val iterCtes = (1 to maxHops).map { i =>
      raw"""n$i AS MATERIALIZED (
           |  SELECT DISTINCT e.dst AS node, $i AS hops
           |  FROM edges e JOIN f${i - 1} f ON e.src = f.node
           |  WHERE e.dst NOT IN (SELECT node FROM d${i - 1})
           |),
           |d$i AS MATERIALIZED (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM n$i),
           |f$i AS MATERIALIZED (SELECT node FROM n$i)""".stripMargin
    }.mkString(",\n")
    raw"""WITH ${graphCtes(pairFilter)},
         |d0 AS MATERIALIZED (
         |  SELECT node, 0 AS hops FROM nodes WHERE node IN ($seedList)),
         |f0 AS MATERIALIZED (SELECT node FROM d0),
         |$iterCtes
         |SELECT node,
         |  CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
         |  hops
         |FROM d$maxHops ORDER BY node""".stripMargin
  }

  /** Distinct part–supplier pairs as symmetric node-encoded edges. */
  private def bipartiteEdges(li: org.apache.spark.sql.DataFrame) = {
    val pairs = li
      .select((col("l_partkey") * 2).cast("long").as("a"),
        (col("l_suppkey") * 2 + 1).cast("long").as("b"))
      .distinct()
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- PageRank, 5 fixed iterations, oracle-exact fixed-point ----
    QueryDef("graph_pagerank",
      (s, d) => Graph.pageRank(bipartiteEdges(Tables.lineitem(s, d)), iters = 5)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("part")).otherwise(lit("supplier"))
            .as("kind"),
          Det.fixed(col("rank"), 9).as("pagerank"))
        .orderBy(col("node")),
      oracle = Some(pagerankSql(5))),

    // ---- triangle counting on the supplier co-part projection graph:
    //      bipartite → unipartite projection (suppliers sharing a part),
    //      oriented a<b so each triangle {x<y<z} is found exactly once
    //      (via its lowest edge (x,y) with z in both OUT-neighborhoods).
    //      Adjacency-intersection formulation, NOT the wedge self-join:
    //      the co-part projection is dense (avg degree ~220 at sf0.1),
    //      so enumerating wedges shuffles ~Σ in·out ≈ 100× the edge
    //      count before the closing join filters them; intersecting
    //      per-node sorted out-neighbor arrays instead emits only REAL
    //      triangles, and the node-keyed adjacency side is tiny
    //      (one row per node) — AQE broadcasts it, zero wedge
    //      shuffle. 89 s → 16 s at sf0.1, same rows. At 100 TB orient
    //      edges low-degree→high-degree instead of by id: that bounds
    //      every out-neighbor array at sqrt(2|E|), which also caps the
    //      per-row array memory this formulation carries.
    // Kept as a DataFrame: the adjacency-array plan above, where the text plans 18 scans.
    QueryDef("graph_triangles",
      (s, d) => {
        val ps = Tables.lineitem(s, d)
          .select(col("l_partkey").as("p"), col("l_suppkey").as("sup"))
          .distinct()
        // stage the projection edges ONCE: both downstream consumers
        // (edge list + adjacency build) read the materialized table
        val e = ps.as("x").join(ps.as("y"),
            col("x.p") === col("y.p") && col("x.sup") < col("y.sup"))
          .select(col("x.sup").as("ea"), col("y.sup").as("eb"))
          .distinct()
          .stageCheckpoint()
        val adj = e.groupBy(col("ea")).agg(
          sort_array(collect_list(col("eb"))).as("nbrs"))
        // no broadcast HINT: at sf0.1 AQE auto-broadcasts the ~1k-row
        // adjacency side from the staged table's runtime stats; at
        // corpus scale (|V| rows of sqrt(2|E|)-capped arrays) the same
        // plan degrades gracefully to a node-keyed hash join
        val tri = e
          .join(adj.select(col("ea").as("a1"), col("nbrs").as("na")),
            col("ea") === col("a1"))
          .join(adj.select(col("ea").as("b1"), col("nbrs").as("nb")),
            col("eb") === col("b1"))
          .select(col("ea").as("ta"), col("eb").as("tb"),
            explode(array_intersect(col("na"), col("nb"))).as("tc"))
        tri.select(explode(array(col("ta"), col("tb"), col("tc"))).as("s_suppkey"))
          .groupBy(col("s_suppkey"))
          .agg(count(lit(1)).as("n_triangles"))
          .orderBy(col("s_suppkey"))
      },
      oracle = Some(
        raw"""WITH ps AS (
             |  SELECT DISTINCT l_partkey AS p, l_suppkey AS sup FROM lineitem
             |),
             |e AS (
             |  SELECT DISTINCT x.sup AS ea, y.sup AS eb
             |  FROM ps x JOIN ps y ON x.p = y.p AND x.sup < y.sup
             |),
             |tri AS (
             |  SELECT e1.ea AS ta, e1.eb AS tb, e2.eb AS tc
             |  FROM e e1
             |  JOIN e e2 ON e1.eb = e2.ea
             |  JOIN e e3 ON e3.ea = e1.ea AND e3.eb = e2.eb
             |)
             |SELECT node AS s_suppkey, COUNT(*) AS n_triangles
             |FROM (
             |  SELECT ta AS node FROM tri
             |  UNION ALL SELECT tb FROM tri
             |  UNION ALL SELECT tc FROM tri
             |)
             |GROUP BY node ORDER BY node""".stripMargin),
      bench = false),

    // ---- multi-source BFS hop distance (4 hops) on the sparse
    //      high-quantity subgraph: dist(v) = min hops from any of the
    //      three seed suppliers. Frontier-delta iteration (only the
    //      newly-reached nodes join edges each step — Σ outdeg(frontier)
    //      per-step shuffle, not |V|); pure integers → chained-CTE
    //      oracle-exact. Unreached nodes are absent by contract. ----
    QueryDef("graph_bfs_hops",
      (s, d) => {
        val e = bipartiteEdges(Tables.lineitem(s, d).where(col("l_quantity") >= 45))
        // seeds restricted to graph-present nodes, matching the oracle's
        // `FROM nodes WHERE node IN (...)`
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
        val seeds = nodes.where(col("node").isin(3L, 5L, 7L))
        Graph.bfsHops(e, seeds, maxHops = 4)
          .select(col("node"),
            when(col("node") % 2 === 0, lit("part")).otherwise(lit("supplier"))
              .as("kind"),
            col("hops"))
          .orderBy(col("node"))
      },
      oracle = Some(bfsHopsSql(4, " WHERE l_quantity >= 45", Seq(3L, 5L, 7L))),
      bench = false),

    // ---- bounded min-label propagation (3 hops) on the sparse
    //      high-quantity subgraph → many components, pure integer ops ----
    QueryDef("graph_min_label_prop",
      (s, d) => Graph.minLabelPropagation(
        bipartiteEdges(Tables.lineitem(s, d).where(col("l_quantity") >= 45)),
        iters = 3)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("part")).otherwise(lit("supplier"))
            .as("kind"),
          col("lab").as("label"))
        .orderBy(col("node")),
      oracle = Some(labelPropSql(3, " WHERE l_quantity >= 45")),
      bench = false)
  )
}
