package graft.queries

import graft.{QueryDef, Tables}
import graft.util.Det
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Star-schema analytics over the TPC-H-ish tables (SURVEY.md §7.6):
  * joins (broadcast / sort-merge / semi / anti), grouped aggregation,
  * ROLLUP/CUBE, distinct aggregates, window functions, top-k, set ops,
  * string and date functions. The reference has none of these (SURVEY.md
  * §2.3) — they are the mandated beyond-reference extensions.
  *
  * Scale notes (100 TB design point):
  *  - Dimension joins (region/nation/part/supplier) are broadcast —
  *    Catalyst picks this from stats, `broadcast()` pins the small sides.
  *  - Fact-fact joins (lineitem-orders) are shuffle hash/sort-merge on the
  *    join key; AQE handles skew.
  *  - Top-k uses ORDER BY + LIMIT which Spark plans as TakeOrderedAndProject
  *    (per-partition heap + driver merge of k rows), never a full sort.
  *  - All money sums are fixed-point-integerized (graft.util.Det) so
  *    results are exact, order-independent, and oracle-hashable.
  */
object TpchQueries {

  private def ts(s: String): Column = lit(java.sql.Timestamp.valueOf(s + " 00:00:00"))

  /** revenue = extendedprice * (1 - discount), exact cents. */
  private val revenueExpr = col("l_extendedprice") * (lit(1) - col("l_discount"))
  private val revenueSql = "l_extendedprice * (1 - l_discount)"

  /** Bucketed (hash-clustered) staging copies of orders/lineitem for the
    * co-located join path, written once per (session, sf dir) — the
    * in-memory catalog holds the bucket spec, so a fresh session
    * recreates them. 16 buckets on the join key, sorted within buckets.
    * Idempotent and safe to call from Bench's untimed warmup. */
  def ensureBucketedFixtures(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = {
    // Tag on the FULL path, not just the leaf dir: two datasets named
    // .../a/sf0.1 and .../b/sf0.1 must not share (stale) fixtures. The
    // leaf stays in the name for readability; the hash disambiguates.
    val abs = new java.io.File(d).getAbsolutePath
    val tag = d.split('/').filter(_.nonEmpty).last.replace('.', '_') +
      "_" + java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(abs))
    val (ot, lt) = (s"graft_orders_b_$tag", s"graft_lineitem_b_$tag")
    if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(lt)) {
      // the in-memory catalog is per-session but the warehouse DIRECTORY
      // persists: a fresh session's saveAsTable would hit
      // LOCATION_ALREADY_EXISTS on the previous run's files — clear the
      // stale location (an existing catalog entry is replaced by the
      // overwrite-mode saveAsTable below)
      // Resolve the managed-table location from the CURRENT database
      // (not warehouse.dir directly — wrong when the session's database
      // has its own LOCATION, as BucketingSpec's does).
      val dbLoc = new org.apache.hadoop.fs.Path(
        s.catalog.getDatabase(s.catalog.currentDatabase).locationUri)
      Seq(ot, lt).foreach { t =>
        val wh = new org.apache.hadoop.fs.Path(dbLoc, t)
        val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(wh)) fs.delete(wh, true)
      }
      graft.sources.ParquetSink.writeBucketed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
        ot, Seq("o_orderkey"), buckets = 16, sortCols = Seq("o_orderkey"))
      graft.sources.ParquetSink.writeBucketed(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice")),
        lt, Seq("l_orderkey"), buckets = 16, sortCols = Seq("l_orderkey"))
    }
    (ot, lt)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- grouped aggregation (TPC-H Q1 shape): partial+final hash agg ----
    QueryDef("q1_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .where(col("l_shipdate") <= ts("2001-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Det.fixedSum(col("l_quantity"), 2).as("sum_qty"),
          Det.fixedSum(col("l_extendedprice"), 2).as("sum_base_price"),
          Det.fixedSum(revenueExpr, 2).as("sum_disc_price"),
          Det.fixedSum(revenueExpr * (lit(1) + col("l_tax")), 2).as("sum_charge"),
          Det.fixedAvg(col("l_quantity"), 2).as("avg_qty"),
          Det.fixedAvg(col("l_extendedprice"), 2).as("avg_price"),
          Det.fixedAvg(col("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      oracle = Some(
        s"""SELECT l_returnflag, l_linestatus,
           |  ${Det.fixedSumSql("l_quantity", 2)} AS sum_qty,
           |  ${Det.fixedSumSql("l_extendedprice", 2)} AS sum_base_price,
           |  ${Det.fixedSumSql(revenueSql, 2)} AS sum_disc_price,
           |  ${Det.fixedSumSql(s"($revenueSql) * (1 + l_tax)", 2)} AS sum_charge,
           |  ${Det.fixedAvgSql("l_quantity", 2)} AS avg_qty,
           |  ${Det.fixedAvgSql("l_extendedprice", 2)} AS avg_price,
           |  ${Det.fixedAvgSql("l_discount", 4)} AS avg_disc,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- 3-way join + grouped agg + top-k (Q3 shape) ----
    QueryDef.sql("q3_shipping_priority",
      s"""SELECT /*+ BROADCAST(customer) */ l_orderkey, o_orderdate, o_orderpriority,
         |  ${Det.fixedSumSql(revenueSql, 2)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC NULLS LAST, l_orderkey NULLS FIRST
         |LIMIT 10""".stripMargin),

    // ---- 6-way star join (Q5 shape): broadcast dims, shuffle facts ----
    QueryDef.sql("q5_local_supplier_volume",
      s"""SELECT /*+ BROADCAST(supplier, nation, region) */ n_name, ${Det.fixedSumSql(revenueSql, 2)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin),

    // ---- scan + filter + global agg (Q6 shape): full predicate pushdown ----
    QueryDef.sql("q6_revenue_forecast",
      s"""SELECT ${Det.fixedSumSql("l_extendedprice * l_discount", 4)} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
      bench = false),

    // ---- join + group + top-k (Q10 shape) ----
    QueryDef.sql("q10_returned_items",
      s"""SELECT /*+ BROADCAST(nation) */ c_custkey, c_name, n_name, ${Det.fixedSumSql(revenueSql, 2)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC NULLS LAST, c_custkey NULLS FIRST
         |LIMIT 20""".stripMargin),

    // ---- explicit broadcast dim join ----
    QueryDef.sql("join_broadcast_dim",
      s"""SELECT /*+ BROADCAST(part) */ p_brand, count(*) AS n_items, ${Det.fixedSumSql(revenueSql, 2)} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    // ---- left-semi join (EXISTS) ----
    QueryDef.sql("join_semi_exists",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.09)
        |ORDER BY o_orderkey""".stripMargin,
      bench = false),

    // ---- left-anti join (NOT EXISTS) ----
    QueryDef("join_anti_not_exists",
      (s, d) => {
        val h1 = Tables.orders(s, d)
          .where(col("o_orderdate") >= ts("1995-01-01") && col("o_orderdate") < ts("1995-07-01"))
          .select(col("o_custkey"))
        Tables.customer(s, d)
          .join(h1, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      oracle = Some(
        """SELECT c_custkey, c_name FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          |                    AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00')
          |ORDER BY c_custkey""".stripMargin),
      bench = false),

    // ---- ROLLUP ----
    QueryDef.sql("agg_rollup",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${Det.fixedSumSql("l_quantity", 2)} AS sum_qty, count(*) AS n
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
      bench = false),

    // ---- CUBE ----
    QueryDef.sql("agg_cube",
      s"""SELECT o_orderstatus, o_orderpriority,
         |  ${Det.fixedSumSql("o_totalprice", 2)} AS sum_price, count(*) AS n
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
      bench = false),

    // ---- Q4-style: orders with any late-shipped line (semi join),
    // counted per priority ----
    QueryDef.sql("q4_priority_late_ship",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      bench = false),

    // ---- Q14-style: promo revenue share per month (conditional agg over
    // a fact-dim join) ----
    QueryDef("q14_promo_share",
      (s, d) => {
        // raw revenue expr, NOT per-row round(...,2): scale-k rounding of
        // a double differs between engines at half boundaries; Det's
        // multiply-then-round-at-scale-0 is the cross-engine-safe form
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
          .agg(
            Det.fixedSum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)), 2)
              .as("promo_revenue"),
            Det.fixedSum(rev, 2).as("total_revenue"))
          // NO final round: the ratio of two fixed-point-exact sums is
          // bit-identical across engines, but round-at-scale on a double
          // is NOT (Spark rounds the exact decimal expansion, DuckDB
          // rounds in float arithmetic -> half-boundary divergence)
          .withColumn("promo_share_pct",
            lit(100.0) * col("promo_revenue") / col("total_revenue"))
          .orderBy(col("ship_month"))
      },
      oracle = Some {
        val rev = "l_extendedprice * (1.0 - l_discount)"
        s"""WITH j AS (
           |  SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
           |    CASE WHEN p_type = 'PROMO' THEN ($rev) ELSE 0.0 END AS promo_rev,
           |    ($rev) AS rev
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |), agg AS (
           |  SELECT ship_month,
           |    ${Det.fixedSumSql("promo_rev", 2)} AS promo_revenue,
           |    ${Det.fixedSumSql("rev", 2)} AS total_revenue
           |  FROM j GROUP BY 1
           |)
           |SELECT ship_month, promo_revenue, total_revenue,
           |  100.0 * promo_revenue / total_revenue AS promo_share_pct
           |FROM agg ORDER BY ship_month""".stripMargin
      }),

    // ---- Q18-style: large-volume orders (grouped HAVING feeding a join
    // + top-k) ----
    QueryDef("q18_large_volume_orders",
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(Det.fixedSum(col("l_quantity"), 2).as("total_qty"))
          .where(col("total_qty") > 300)
        Tables.orders(s, d)
          .join(big.withColumnRenamed("l_orderkey", "o_orderkey"), Seq("o_orderkey"))
          .join(broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_name"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
            Det.fixed(col("o_totalprice"), 2).as("o_totalprice"), col("total_qty"))
          .orderBy(col("total_qty").desc, col("o_orderkey"))
          .limit(100)
      },
      oracle = Some(
        s"""WITH big AS (
           |  SELECT l_orderkey, ${Det.fixedSumSql("l_quantity", 2)} AS total_qty
           |  FROM lineitem GROUP BY 1
           |  HAVING ${Det.fixedSumSql("l_quantity", 2)} > 300
           |)
           |SELECT c_name, o_orderkey, o_orderdate,
           |  (ROUND((o_totalprice) * 100, 0) / 100) AS o_totalprice, total_qty
           |FROM big JOIN orders ON o_orderkey = l_orderkey
           |JOIN customer ON c_custkey = o_custkey
           |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin)),

    // ---- correlated scalar subquery (Catalyst decorrelates into an
    // aggregate + join; the reference has no subqueries at all) ----
    QueryDef.sql("subquery_decorrelated",
      """SELECT o_orderkey, o_custkey, (ROUND((o_totalprice) * 100, 0) / 100) AS o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT avg(o2.o_totalprice) FROM orders o2
        |  WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,
      bench = false),

    // ---- TPC-H Q13 shape: order-count distribution including
    // zero-order customers (left join + count of the nullable side,
    // then a second aggregation over the counts). ----
    QueryDef.sql("q13_custdist",
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey
        |) GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
      bench = false),

    // ---- TPC-H Q17 shape: correlated scalar-aggregate subquery per
    // part (decorrelated by Catalyst into an aggregate + join). The
    // threshold avg(l_quantity) is a sum of small integers in double —
    // exact under any merge order, so the filter is cross-engine-safe. ----
    QueryDef.sql("q17_small_quantity_revenue",
      s"""SELECT ${Det.fixedSumSql("l_extendedprice", 2)} / 7.0 AS avg_yearly,
         |  count(*) AS n_items
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand = 'Brand#23'
         |  AND l_quantity < 0.2 * (
         |    SELECT avg(l2.l_quantity) FROM lineitem l2
         |    WHERE l2.l_partkey = p_partkey)""".stripMargin,
      bench = false),

    // ---- TPC-H Q22 shape: positive-balance customers above the exact
    // (integerized) average with no RECENT orders (the fixture has no
    // fully order-less customers) — scalar subquery + anti join,
    // grouped by a derived country code. ----
    QueryDef.sql("q22_global_sales_opportunity",
      s"""SELECT c_nationkey % 10 AS cntrycode, count(*) AS numcust,
         |  ${Det.fixedSumSql("c_acctbal", 2)} AS totacctbal
         |FROM customer c
         |WHERE c_acctbal > (
         |    SELECT ${Det.fixedAvgSql("c2.c_acctbal", 2)}
         |    FROM customer c2 WHERE c2.c_acctbal > 0)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
         |      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      bench = false),

    // ---- GROUPING SETS (explicit set list, Dataset.groupingSets) ----
    QueryDef.sql("agg_grouping_sets",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${Det.fixedSumSql("l_quantity", 2)} AS sum_qty, count(*) AS n
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
      bench = false),

    // ---- grouping()/grouping_id(): distinguish "NULL because subtotal"
    // from "NULL in the data" — the disambiguator every ROLLUP consumer
    // needs. ----
    QueryDef("agg_grouping_id",
      (s, d) => Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).as("g_rf"),
          grouping(col("l_linestatus")).as("g_ls"),
          grouping_id().as("gid"))
        .orderBy(col("gid"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      oracle = Some(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(GROUPING(l_returnflag) AS TINYINT) AS g_rf,
          |  CAST(GROUPING(l_linestatus) AS TINYINT) AS g_ls,
          |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
      bench = false),

    // ---- map construction + generator (explode) round-trip: per-customer
    // order-priority counts as a MAP column, exploded back to rows. The
    // relational result is oracle-checkable without DuckDB MAP support. ----
    QueryDef("map_funcs",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("o_custkey"))
        .agg(map_from_entries(collect_list(struct(col("o_orderpriority"), col("cnt"))))
          .as("prio_map"))
        .select(col("o_custkey"), explode(col("prio_map")).as(Seq("o_orderpriority", "n")))
        .where(col("o_custkey") < 500)
        .orderBy(col("o_custkey"), col("o_orderpriority")),
      oracle = Some(
        """SELECT o_custkey, o_orderpriority, count(*) AS n
          |FROM orders WHERE o_custkey < 500
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = false),

    // ---- distinct aggregates (exact) ----
    QueryDef.sql("agg_distinct",
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS uniq_custs,
        |  CAST(sum(DISTINCT o_custkey) AS BIGINT) AS sum_distinct_cust,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      bench = false),

    // ---- approximate distinct (HLL) — sketches differ across engines, so
    // no SQL oracle; rows-only + ApproxSpec tolerance test vs exact count.
    // The HLL sketch value itself is engine-specific, so the hashable
    // contract is the error bound: |approx - exact| / exact < 5% (Spark
    // HLL++ rsd default 5%; DuckDB HLL ~1.6%) — both engines must emit
    // approx_ok = true alongside the identical exact count.
    // ---- mergeable HLL sketches (DataSketches): per-group sketch ->
    // union -> estimate. THE 100 TB cardinality pattern: sketch once per
    // partition/day at ingest, union lazily for any rollup — no re-scan.
    // Estimates are engine-specific, so the hashed contract is the
    // tolerance bool (oracle pins `true`; a sketch drifting >5% off the
    // exact count fails the gate) next to exact values. ----
    QueryDef("agg_sketch_union",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val perFlag = li.groupBy(col("l_returnflag"))
          .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
        val est = perFlag.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
          count(lit(1)).as("n_groups"))
        val exact = li.agg(countDistinct(col("l_partkey")).as("exact_total"))
        est.crossJoin(exact).select(
          col("n_groups"),
          col("exact_total"),
          (abs(col("est") - col("exact_total")).cast("double") /
            col("exact_total").cast("double") < 0.05).as("sketch_ok"))
      },
      oracle = Some(
        """SELECT count(DISTINCT l_returnflag) AS n_groups,
          |  count(DISTINCT l_partkey) AS exact_total,
          |  true AS sketch_ok
          |FROM lineitem""".stripMargin),
      bench = false),

    QueryDef("agg_approx_distinct",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          (abs(approx_count_distinct(col("l_partkey")) - countDistinct(col("l_partkey")))
            .cast("double") / countDistinct(col("l_partkey")) < 0.05).as("approx_ok"))
        .orderBy(col("l_returnflag")),
      oracle = Some(
        """SELECT l_returnflag,
          |  count(DISTINCT l_partkey) AS exact_parts,
          |  (abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey)) * 1.0
          |    / count(DISTINCT l_partkey)) < 0.05 AS approx_ok
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- window: ranking top-N per group ----
    QueryDef("window_rank_topn",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      oracle = Some(
        """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey
          |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders
          |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
      bench = false),

    // ---- window: running sum (frame), exact via integer cents ----
    // cents is the FINAL window-order key: the synthetic lineitem
    // duplicates (l_orderkey, l_linenumber) (~118k groups at sf0.1), so
    // the "PK" alone leaves ties whose running prefix depends on each
    // engine's arbitrary tie order. Ordering ties by their own
    // contribution pins the prefix; equal-cents ties are harmless (same
    // multiset of running values either way).
    QueryDef.sql("window_running_sum",
      s"""SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
         |  CAST(sum(CAST(round(($revenueSql) * 100, 0) AS BIGINT)) OVER (
         |    PARTITION BY l_suppkey
         |    ORDER BY l_shipdate, l_orderkey, l_linenumber,
         |      CAST(round(($revenueSql) * 100, 0) AS BIGINT)
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
         |    AS running_revenue
         |FROM lineitem
         |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,
      bench = false),

    // ---- window RANGE frame (value-based, vs the ROWS frames above):
    // per customer, orders in the trailing 30-day window ----
    QueryDef("window_range_frame",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(unix_micros(col("o_orderdate").cast("timestamp")))
          .rangeBetween(-30L * 86400L * 1000000L, Window.currentRow)
        Tables.orders(s, d)
          .select(
            col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            count(lit(1)).over(w).as("n_last_30d"),
            (sum(round(col("o_totalprice") * 100, 0).cast("long")).over(w)
              .cast("double") / 100).as("sum_last_30d"))
          .orderBy(col("o_orderkey"))
      },
      oracle = Some(
        s"""SELECT o_orderkey, o_custkey, o_orderdate,
           |  count(*) OVER w AS n_last_30d,
           |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER w AS DOUBLE) / 100
           |    AS sum_last_30d
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
           |  RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
           |ORDER BY o_orderkey""".stripMargin),
      bench = false),

    // ---- window distribution functions (ntile / percent_rank /
    // cume_dist) ----
    QueryDef("window_distribution_funcs",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d)
          .where(col("o_orderkey") < 5000)
          .select(
            col("o_orderkey"), col("o_orderpriority"),
            ntile(4).over(w).as("quartile"),
            Det.fixed(percent_rank().over(w), 9).as("pct_rank"),
            Det.fixed(cume_dist().over(w), 9).as("cume"))
          .orderBy(col("o_orderkey"))
      },
      oracle = Some(
        """SELECT o_orderkey, o_orderpriority,
          |  ntile(4) OVER w AS quartile,
          |  (ROUND((percent_rank() OVER w) * 1000000000, 0) / 1000000000) AS pct_rank,
          |  (ROUND((cume_dist() OVER w) * 1000000000, 0) / 1000000000) AS cume
          |FROM orders WHERE o_orderkey < 5000
          |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_orderkey""".stripMargin),
      bench = false),

    // ---- ordered string aggregation (sorted collect -> join) ----
    QueryDef("agg_string_concat",
      (s, d) => Tables.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
        .orderBy(col("n_regionkey")),
      oracle = Some(
        """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
          |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = false),

    // ---- argmin/argmax aggregates (min_by / max_by). Single-key
    // ordering: per-group max/min prices are unique in BOTH the sf0.01
    // and sf0.1 fixtures (verified round 5 — the lineitem dup-key flake
    // class does not apply here), so the argext is well-defined in both
    // engines (DuckDB 1.0 arg_max has no composite-key overload). ----
    QueryDef("agg_minmax_by",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("max_by(o_orderkey, o_totalprice)").as("biggest_order"),
          expr("min_by(o_orderkey, o_totalprice)").as("smallest_order"),
          Det.fixed(max(col("o_totalprice")), 2).as("max_price"),
          Det.fixed(min(col("o_totalprice")), 2).as("min_price"))
        .orderBy(col("o_orderpriority")),
      oracle = Some(
        """SELECT o_orderpriority,
          |  arg_max(o_orderkey, o_totalprice) AS biggest_order,
          |  arg_min(o_orderkey, o_totalprice) AS smallest_order,
          |  (ROUND((max(o_totalprice)) * 100, 0) / 100) AS max_price,
          |  (ROUND((min(o_totalprice)) * 100, 0) / 100) AS min_price
          |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = false),

    // ---- top-k as a TRUE aggregate (bounded partial heaps — see
    //      operators/TopK): the scale-correct alternative to the
    //      row_number window for k ≪ group size. The exchange carries at
    //      most k rows per (group, map-partition) instead of the whole
    //      fact table; ordering is the total order (price, key) so the
    //      result is engine-deterministic. Oracle = the window
    //      formulation, proving the two shapes agree. ----
    QueryDef("agg_topk_heap",
      (s, d) => {
        val tk = graft.operators.TopK.udafFor(3)
        Tables.orders(s, d)
          .groupBy(col("o_orderpriority"))
          .agg(tk(col("o_totalprice"), col("o_orderkey")).as("top"))
          .select(col("o_orderpriority"), posexplode(col("top")))
          .select(col("o_orderpriority"),
            (col("pos") + 1).cast("long").as("rnk"),
            col("col._1").as("o_totalprice"),
            col("col._2").as("o_orderkey"))
          .orderBy(col("o_orderpriority"), col("rnk"))
      },
      oracle = Some(
        """SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk,
          |  o_totalprice, o_orderkey
          |FROM (
          |  SELECT o_orderpriority, o_totalprice, o_orderkey,
          |    row_number() OVER (PARTITION BY o_orderpriority
          |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rnk
          |  FROM orders)
          |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin),
      bench = false),

    // ---- deterministic per-group MODE (most frequent value): both
    //      engines' built-in mode() picks an ARBITRARY value on ties, so
    //      the portable formulation is argmax over (count, value) via
    //      struct-max — ties break to the LARGER value identically in
    //      Spark max(struct(...)) and DuckDB max(struct_pack(...)). ----
    QueryDef("agg_mode",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("o_orderpriority"))
        .agg(
          max(struct(col("cnt"), col("o_orderstatus"))).getField("o_orderstatus")
            .as("mode_status"),
          max(struct(col("cnt"), col("o_orderstatus"))).getField("cnt")
            .as("mode_n"))
        .orderBy(col("o_orderpriority")),
      oracle = Some(
        """SELECT o_orderpriority,
          |  max(struct_pack(cnt := cnt, v := o_orderstatus)).v AS mode_status,
          |  max(struct_pack(cnt := cnt, v := o_orderstatus)).cnt AS mode_n
          |FROM (
          |  SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
          |  FROM orders GROUP BY 1, 2)
          |GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = false),

    // ---- set operations ----
    QueryDef.sql("set_union",
      s"""${custSql("1995-01-01", "1996-01-01")}
         |UNION
         |${custSql("2000-01-01", "2001-01-01")}
         |ORDER BY custkey""".stripMargin,
      bench = false),

    QueryDef.sql("set_intersect",
      s"""${custSql("1995-01-01", "1996-01-01")}
         |INTERSECT
         |${custSql("2000-01-01", "2001-01-01")}
         |ORDER BY custkey""".stripMargin,
      bench = false),

    QueryDef.sql("set_except",
      s"""${custSql("1995-01-01", "1996-01-01")}
         |EXCEPT
         |${custSql("2000-01-01", "2001-01-01")}
         |ORDER BY custkey""".stripMargin,
      bench = false),

    // ---- global top-k: TakeOrderedAndProject, never a full sort ----
    QueryDef.sql("sort_topk",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC NULLS LAST, l_orderkey NULLS FIRST,
        |  l_linenumber NULLS FIRST LIMIT 100""".stripMargin,
      bench = false),

    // ---- string functions ----
    QueryDef("string_funcs",
      (s, d) => Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          lower(col("p_brand")).as("brand_lower"),
          substring(col("p_type"), 1, 4).as("type_prefix"),
          length(col("p_name")).as("name_len"),
          concat_ws("#", col("p_brand"), col("p_type")).as("brand_type"),
          col("p_name").like("%widget%").as("is_widget"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
          split(col("p_name"), " ").getItem(0).as("first_word"),
          trim(lpad(col("p_brand"), 12, "_")).as("brand_padded"))
        .orderBy(col("p_partkey")),
      oracle = Some(
        """SELECT p_partkey,
          |  upper(p_name) AS name_upper,
          |  lower(p_brand) AS brand_lower,
          |  substring(p_type, 1, 4) AS type_prefix,
          |  length(p_name) AS name_len,
          |  concat_ws('#', p_brand, p_type) AS brand_type,
          |  p_name LIKE '%widget%' AS is_widget,
          |  regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
          |  string_split(p_name, ' ')[1] AS first_word,
          |  trim(lpad(p_brand, 12, '_'), ' ') AS brand_padded
          |FROM part ORDER BY p_partkey""".stripMargin),
      bench = false),

    // ---- date/time functions ----
    QueryDef("date_funcs",
      (s, d) => Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"),
          dayofmonth(col("o_orderdate")).as("o_day"),
          quarter(col("o_orderdate")).as("o_quarter"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since_epoch_start"))
        .orderBy(col("o_orderkey")),
      oracle = Some(
        """SELECT o_orderkey,
          |  CAST(year(o_orderdate) AS INT) AS o_year,
          |  CAST(month(o_orderdate) AS INT) AS o_month,
          |  CAST(day(o_orderdate) AS INT) AS o_day,
          |  CAST(quarter(o_orderdate) AS INT) AS o_quarter,
          |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
          |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch_start
          |FROM orders ORDER BY o_orderkey""".stripMargin),
      bench = false),

    // ---- large-large shuffle join: pin sort-merge via hint (dims are
    // small enough to auto-broadcast at test SF; at 100 TB lineitem x
    // orders IS the co-partitioned shuffle join this demonstrates) ----
    QueryDef.sql("join_sort_merge_large",
      s"""SELECT /*+ MERGE(lineitem, orders) */ o_orderpriority, count(*) AS n_items,
         |  ${Det.fixedSumSql("l_extendedprice", 2)} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      bench = false),

    // ---- bucketed fact-fact SMJ: both sides pre-hash-clustered into the
    // same bucket layout on the join key, so the join (and the per-order
    // aggregate that reuses its partitioning) plans with ZERO hash
    // exchanges — pay the shuffle once at ingest, never per query. The
    // bucketed staging tables are written once per (session, sf dir) by
    // [[ensureBucketedFixtures]]; Bench pre-creates them in its untimed
    // warmup so the timed number is the join, not the ingest write.
    // BucketingSpec asserts the no-Exchange plan shape. ----
    QueryDef("join_bucketed_smj",
      (s, d) => {
        val (ot, lt) = ensureBucketedFixtures(s, d)
        // merge hint: at tiny SF Catalyst would broadcast the orders
        // side; the shape under test is the fact-fact co-located SMJ
        s.table(ot).hint("merge")
          .join(s.table(lt).hint("merge"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_totalprice"))
          .agg(
            count(lit(1)).as("n_lines"),
            Det.fixedSum(col("l_quantity"), 2).as("sum_qty"),
            Det.fixedSum(col("l_extendedprice"), 2).as("sum_price"))
          .orderBy(col("o_orderkey"))
      },
      oracle = Some(
        s"""SELECT o_orderkey, o_totalprice, count(*) AS n_lines,
           |  ${Det.fixedSumSql("l_quantity", 2)} AS sum_qty,
           |  ${Det.fixedSumSql("l_extendedprice", 2)} AS sum_price
           |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // ---- bloom-prefiltered semi join: build = urgent orders (selective),
    // probe = lineitem; probe rows are pruned by the bloom BEFORE the
    // join shuffle, exact semi join removes false positives. Result
    // identical to plain WHERE EXISTS. ----
    QueryDef("join_bloom_prefilter",
      (s, d) => graft.operators.BloomJoin.bloomPrefilteredSemiJoin(
        probe = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
        probeKey = "l_orderkey",
        build = Tables.orders(s, d)
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")),
        buildKey = "o_orderkey",
        expectedItems = 100000L, numBits = 1L << 20)
        .groupBy()
        .agg(
          count(lit(1)).as("n_urgent_items"),
          Det.fixedSum(col("l_quantity"), 2).as("sum_qty"),
          Det.fixedSum(col("l_extendedprice"), 2).as("sum_price")),
      oracle = Some(
        s"""SELECT count(*) AS n_urgent_items,
           |  ${Det.fixedSumSql("l_quantity", 2)} AS sum_qty,
           |  ${Det.fixedSumSql("l_extendedprice", 2)} AS sum_price
           |FROM lineitem WHERE EXISTS (
           |  SELECT 1 FROM orders
           |  WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')""".stripMargin)),

    // ---- skew-aware two-phase aggregation: l_returnflag has 3 hot keys
    // over every lineitem row — the textbook reducer-skew shape. Salted
    // partial -> final merge; result identical to the plain groupBy
    // (integer partial sums commute exactly). ----
    QueryDef("agg_skew_twophase",
      (s, d) => graft.operators.Skew.twoPhaseCountSum(
        Tables.lineitem(s, d), "l_returnflag", "l_extendedprice",
        saltFrom = col("l_orderkey") * lit(8) + col("l_linenumber"),
        buckets = 16)
        .orderBy(col("l_returnflag")),
      oracle = Some(
        s"""SELECT l_returnflag, count(*) AS n_rows,
           |  ${Det.fixedSumSql("l_extendedprice", 2)} AS sum_l_extendedprice
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- skew-aware salted join: probe (lineitem) salted on its line
    // identity, build (orders) replicated per salt -> each hot join key
    // spreads over 8 reducers. Result identical to the plain join. ----
    QueryDef("join_salted_skew",
      (s, d) => graft.operators.Skew.saltedEquiJoin(
        probe = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
            col("l_extendedprice")),
        build = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority")).hint("shuffle_hash"),
        key = "o_orderkey",
        saltFrom = col("o_orderkey") * lit(8) + col("l_linenumber"),
        buckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          Det.fixedSum(col("l_extendedprice"), 2).as("sum_price"))
        .orderBy(col("o_orderpriority")),
      oracle = Some(
        s"""SELECT o_orderpriority, count(*) AS n_items,
           |  ${Det.fixedSumSql("l_extendedprice", 2)} AS sum_price
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY 1 ORDER BY 1""".stripMargin),
      // bench-rotated OUT round 10 (flat 0.5 s since r7)
      bench = false),

    // ---- exact percentiles (Spark `percentile` == DuckDB quantile_cont,
    // both linearly interpolated) ----
    QueryDef("agg_percentiles",
      // The three l_quantity percentiles share ONE aggregation buffer
      // (array-of-percentiles form) instead of three independent
      // value-count hashmaps over the same 6M+ rows — same sort +
      // interpolation semantics, one buffer update per row.
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, array(0.25, 0.5, 0.9))").as("qs"),
          expr("percentile(l_extendedprice, 0.99)").as("p99"))
        .select(
          col("l_returnflag"),
          Det.fixed(element_at(col("qs"), 1), 6).as("q25"),
          Det.fixed(element_at(col("qs"), 2), 6).as("median"),
          Det.fixed(element_at(col("qs"), 3), 6).as("q90"),
          Det.fixed(col("p99"), 6).as("price_p99"))
        .orderBy(col("l_returnflag")),
      oracle = Some(
        """SELECT l_returnflag,
          |  (ROUND((quantile_cont(l_quantity, 0.25)) * 1000000, 0) / 1000000) AS q25,
          |  (ROUND((quantile_cont(l_quantity, 0.5)) * 1000000, 0) / 1000000) AS median,
          |  (ROUND((quantile_cont(l_quantity, 0.9)) * 1000000, 0) / 1000000) AS q90,
          |  (ROUND((quantile_cont(l_extendedprice, 0.99)) * 1000000, 0) / 1000000) AS price_p99
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = false),

    // ---- sketch-based percentiles (single-pass mergeable sketch — the
    // 100 TB path; approximate, so no cross-engine oracle) ----
    // Sketch values differ across engines (Spark GK-summary vs DuckDB
    // t-digest); the hashable contract is each sketch landing within 5%
    // of the exact interpolated percentile, next to the exact value.
    // 5%, not 2%: DuckDB's t-digest on the sf0.1 integer-quantity column
    // lands EXACTLY on the 2% boundary for one group (|25.5-25|/25) and
    // the strict < flips only on the oracle side — the contract needs
    // headroom for the oracle's own sketch error, not just Spark's.
    QueryDef("agg_approx_percentile",
      (s, d) => {
        def ok(approx: String, exact: String) =
          (abs(expr(approx) - expr(exact)) /
            greatest(abs(expr(exact)), lit(1.0)) < 0.05)
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            Det.fixed(expr("percentile(l_quantity, 0.5)"), 6).as("exact_median"),
            ok("approx_percentile(l_quantity, 0.5, 10000)",
              "percentile(l_quantity, 0.5)").as("median_ok"),
            Det.fixed(expr("percentile(l_extendedprice, 0.99)"), 6).as("exact_price_p99"),
            ok("approx_percentile(l_extendedprice, 0.99, 10000)",
              "percentile(l_extendedprice, 0.99)").as("p99_ok"))
          .orderBy(col("l_returnflag"))
      },
      oracle = Some(
        s"""SELECT l_returnflag,
           |  ${Det.fixedSql("quantile_cont(l_quantity, 0.5)", 6)} AS exact_median,
           |  (abs(approx_quantile(l_quantity, 0.5) - quantile_cont(l_quantity, 0.5))
           |    / greatest(abs(quantile_cont(l_quantity, 0.5)), 1.0)) < 0.05 AS median_ok,
           |  ${Det.fixedSql("quantile_cont(l_extendedprice, 0.99)", 6)} AS exact_price_p99,
           |  (abs(approx_quantile(l_extendedprice, 0.99) - quantile_cont(l_extendedprice, 0.99))
           |    / greatest(abs(quantile_cont(l_extendedprice, 0.99)), 1.0)) < 0.05 AS p99_ok
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- correlation/covariance via exact sufficient statistics: the
    // single-pass suffstats pattern (same shape as the EM aggregate) with
    // scale-0 integerized inputs, so both engines hash-match the derived
    // corr bit-for-bit; the float built-in is asserted close. corr is
    // scale-invariant, so whole-unit rounding only perturbs it ~1e-6. ----
    QueryDef("stats_corr",
      (s, d) => {
        val x = round(col("l_quantity"), 0).cast("long")
        val y = round(col("l_extendedprice"), 0).cast("long")
        def d2(c: org.apache.spark.sql.Column) = c.cast("double")
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
            sum(x * x).as("sxx"), sum(y * y).as("syy"),
            corr(col("l_quantity"), col("l_extendedprice")).as("corr_builtin"))
          .select(
            col("l_returnflag"), col("n"),
            ((d2(col("n")) * d2(col("sxy")) - d2(col("sx")) * d2(col("sy"))) /
              (sqrt(d2(col("n")) * d2(col("sxx")) - d2(col("sx")) * d2(col("sx"))) *
                sqrt(d2(col("n")) * d2(col("syy")) - d2(col("sy")) * d2(col("sy")))))
              .as("corr_exact"),
            col("corr_builtin"))
          .withColumn("builtin_close",
            abs(col("corr_builtin") - col("corr_exact")) < 0.0001)
          .drop("corr_builtin") // float value is engine-ordered; only the contract is hashed
          .orderBy(col("l_returnflag"))
      },
      oracle = Some(
        """SELECT l_returnflag, n, corr_exact,
          |  abs(corr_builtin - corr_exact) < 0.0001 AS builtin_close
          |FROM (
          |  SELECT l_returnflag, count(*) AS n,
          |    (CAST(count(*) AS DOUBLE) * CAST(sum(x*y) AS DOUBLE)
          |       - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
          |    / (sqrt(CAST(count(*) AS DOUBLE) * CAST(sum(x*x) AS DOUBLE)
          |         - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
          |     * sqrt(CAST(count(*) AS DOUBLE) * CAST(sum(y*y) AS DOUBLE)
          |         - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE))) AS corr_exact,
          |    corr(xr, yr) AS corr_builtin
          |  FROM (
          |    SELECT l_returnflag, l_quantity AS xr, l_extendedprice AS yr,
          |      CAST(ROUND(l_quantity, 0) AS BIGINT) AS x,
          |      CAST(ROUND(l_extendedprice, 0) AS BIGINT) AS y
          |    FROM lineitem
          |  )
          |  GROUP BY 1
          |)
          |ORDER BY l_returnflag""".stripMargin),
      bench = false),

    // ---- linear-regression aggregates: regr_slope / regr_intercept /
    // regr_r2 built-ins, checked against exact closed forms from
    // integerized sufficient statistics (same determinism contract as
    // stats_corr: the exact values hash cross-engine, the float-summed
    // builtins are asserted within tolerance and dropped). ----
    QueryDef("stats_regression",
      (s, d) => {
        val x = round(col("l_quantity"), 0).cast("long")
        val y = round(col("l_extendedprice"), 0).cast("long")
        def d2(c: Column) = c.cast("double")
        val agg = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
            sum(x * x).as("sxx"), sum(y * y).as("syy"),
            expr("regr_slope(l_extendedprice, l_quantity)").as("slope_b"),
            expr("regr_intercept(l_extendedprice, l_quantity)").as("icept_b"),
            expr("regr_r2(l_extendedprice, l_quantity)").as("r2_b"))
        val covn  = d2(col("n")) * d2(col("sxy")) - d2(col("sx")) * d2(col("sy"))
        val varxn = d2(col("n")) * d2(col("sxx")) - d2(col("sx")) * d2(col("sx"))
        val varyn = d2(col("n")) * d2(col("syy")) - d2(col("sy")) * d2(col("sy"))
        val slope = covn / varxn
        agg.select(
            col("l_returnflag"), col("n"),
            slope.as("slope"),
            ((d2(col("sy")) - slope * d2(col("sx"))) / d2(col("n"))).as("icept"),
            ((covn * covn) / (varxn * varyn)).as("r2"),
            col("slope_b"), col("icept_b"), col("r2_b"))
          .withColumn("builtin_close",
            (abs(col("slope_b") - col("slope")) / greatest(abs(col("slope")), lit(1.0)) < 1e-6) &&
            (abs(col("icept_b") - col("icept")) / greatest(abs(col("icept")), lit(1.0)) < 1e-6) &&
            (abs(col("r2_b") - col("r2")) < 1e-6))
          .drop("slope_b", "icept_b", "r2_b") // float-ordered; only the contract hashes
          .orderBy(col("l_returnflag"))
      },
      oracle = Some(
        """SELECT l_returnflag, CAST(n AS BIGINT) AS n, slope, icept, r2,
          |  ((abs(slope_b - slope) / greatest(abs(slope), 1.0) < 0.000001)
          |   AND (abs(icept_b - icept) / greatest(abs(icept), 1.0) < 0.000001)
          |   AND (abs(r2_b - r2) < 0.000001)) AS builtin_close
          |FROM (
          |  SELECT l_returnflag, n, covn / varxn AS slope,
          |    (sy - (covn / varxn) * sx) / n AS icept,
          |    (covn * covn) / (varxn * varyn) AS r2,
          |    slope_b, icept_b, r2_b
          |  FROM (
          |    SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
          |      CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
          |      CAST(count(*) AS DOUBLE) * CAST(sum(x*y) AS DOUBLE)
          |        - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE) AS covn,
          |      CAST(count(*) AS DOUBLE) * CAST(sum(x*x) AS DOUBLE)
          |        - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE) AS varxn,
          |      CAST(count(*) AS DOUBLE) * CAST(sum(y*y) AS DOUBLE)
          |        - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE) AS varyn,
          |      regr_slope(yr, xr) AS slope_b,
          |      regr_intercept(yr, xr) AS icept_b,
          |      regr_r2(yr, xr) AS r2_b
          |    FROM (
          |      SELECT l_returnflag, l_quantity AS xr, l_extendedprice AS yr,
          |        CAST(ROUND(l_quantity, 0) AS BIGINT) AS x,
          |        CAST(ROUND(l_extendedprice, 0) AS BIGINT) AS y
          |      FROM lineitem
          |    )
          |    GROUP BY 1
          |  )
          |)
          |ORDER BY l_returnflag""".stripMargin),
      bench = false),

    // ---- JSON functions: construct, extract, parse back ----
    QueryDef("json_funcs",
      (s, d) => {
        val j = to_json(struct(col("o_orderkey"), col("o_orderpriority")))
        Tables.orders(s, d)
          .where(col("o_orderkey") < 2000)
          .select(
            col("o_orderkey"),
            j.as("j"),
            get_json_object(j, "$.o_orderpriority").as("extracted_priority"),
            from_json(j, org.apache.spark.sql.types.StructType.fromDDL(
              "o_orderkey BIGINT, o_orderpriority STRING"))
              .getField("o_orderkey").as("parsed_key"))
          .orderBy(col("o_orderkey"))
      },
      oracle = Some(
        """SELECT o_orderkey,
          |  to_json(struct_pack(o_orderkey := o_orderkey,
          |                      o_orderpriority := o_orderpriority))::VARCHAR AS j,
          |  json_extract_string(to_json(struct_pack(o_orderkey := o_orderkey,
          |                      o_orderpriority := o_orderpriority)),
          |                      '$.o_orderpriority') AS extracted_priority,
          |  CAST(json_extract(to_json(struct_pack(o_orderkey := o_orderkey,
          |                      o_orderpriority := o_orderpriority)),
          |                    '$.o_orderkey') AS BIGINT) AS parsed_key
          |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin),
      bench = false),

    // ---- TPC-H Q7 shape: volume shipping between a nation pair. The
    // nation dimension joins in TWICE under different roles (supplier
    // nation / customer nation) — both broadcast; the disjunctive pair
    // predicate prunes after the joins. At 100 TB the two fact joins
    // (lineitem-orders on orderkey) dominate; everything else is a
    // broadcast of <25 rows. ----
    QueryDef("q7_volume_shipping",
      (s, d) => {
        val n1 = Tables.nation(s, d)
          .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d)
          .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
          .where(
            (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18") ||
            (col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(Det.fixedSum(revenueExpr, 2).as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      oracle = Some(
        s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           |  CAST(year(l_shipdate) AS INT) AS l_year,
           |  ${Det.fixedSumSql(revenueSql, 2)} AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation n1 ON s_nationkey = n1.n_nationkey
           |JOIN nation n2 ON c_nationkey = n2.n_nationkey
           |WHERE (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
           |   OR (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      bench = false),

    // ---- TPC-H Q8 shape: market share of one nation within a region's
    // order volume, per year. The share is a ratio of two fixed-point-
    // exact sums — bit-identical across engines without any final
    // rounding (Det scaladoc corollary). ----
    QueryDef("q8_market_share",
      (s, d) => {
        val n1 = Tables.nation(s, d) // customer nation -> region filter
          .select(col("n_nationkey").as("c_nkey"), col("n_regionkey"))
        val n2 = Tables.nation(s, d) // supplier nation -> share numerator
          .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
        val r = Tables.region(s, d).where(col("r_name") === "EUROPE")
        val vol = Det.toFixed(revenueExpr, 2)
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("c_nationkey") === col("c_nkey"))
          .join(broadcast(n2), col("s_nationkey") === col("s_nkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg((sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0L)))
            .cast("double") / sum(vol).cast("double")).as("mkt_share"))
          .orderBy(col("o_year"))
      },
      oracle = Some(
        s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
           |    THEN ${Det.toFixedSql(revenueSql, 2)} ELSE 0 END) AS DOUBLE)
           |  / CAST(SUM(${Det.toFixedSql(revenueSql, 2)}) AS DOUBLE) AS mkt_share
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation n1 ON c_nationkey = n1.n_nationkey
           |JOIN nation n2 ON s_nationkey = n2.n_nationkey
           |JOIN region ON n1.n_regionkey = r_regionkey
           |WHERE r_name = 'EUROPE'
           |GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = false),

    // ---- TPC-H Q19 shape: disjunctive OR-of-ANDs predicate across the
    // fact and a dimension. Catalyst extracts the common p_partkey join
    // and pushes the p_brand/p_size disjunction to the part scan
    // (PushedFilters shows an Or tree); the per-branch quantity bounds
    // apply post-join. ----
    QueryDef.sql("q19_disjunctive_revenue",
      s"""SELECT /*+ BROADCAST(part) */ count(*) AS n_items, ${Det.fixedSumSql(revenueSql, 2)} AS revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 1 AND 15)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
         |       AND l_quantity BETWEEN 10 AND 25)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
         |       AND l_quantity BETWEEN 20 AND 35)""".stripMargin),

    // ---- conditional aggregates: count_if / FILTER-style conditional
    // sum / bool_and / bool_or — all single-pass hash-agg built-ins. ----
    QueryDef("agg_conditional",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          count_if(col("o_totalprice") > 200000).as("n_big"),
          Det.fixedSum(when(col("o_orderstatus") === "F", col("o_totalprice")), 2)
            .as("sum_f_price"),
          bool_and(col("o_totalprice") > 0).as("all_positive"),
          bool_or(col("o_orderstatus") === "P").as("any_pending"))
        .orderBy(col("o_orderpriority")),
      oracle = Some(
        s"""SELECT o_orderpriority,
           |  count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           |  ${Det.fixedSumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", 2)}
           |    AS sum_f_price,
           |  bool_and(o_totalprice > 0) AS all_positive,
           |  bool_or(o_orderstatus = 'P') AS any_pending
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = false),

    // ---- window value functions: first/last/nth over explicit ROWS
    // frames (deterministic: ts+event_id is a total order per user). ----
    QueryDef.sql("window_value_funcs",
      """SELECT user_id, event_id, value,
        |  first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_v,
        |  last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_v,
        |  nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_v
        |FROM events WHERE user_id < 50 ORDER BY user_id, event_id""".stripMargin,
      bench = false),

    // ---- TPC-H Q2 shape: min-cost supplier per part — a correlated MIN
    // subquery over a multi-join (here: unit price from lineitem, since
    // the fixture has no partsupp). Catalyst decorrelates to agg+join;
    // the double equality against the min is exact (same IEEE division
    // both engines). Region-filtered supplier side is broadcast. ----
    QueryDef("q2_min_cost_supplier",
      (s, d) => {
        val supNat = broadcast(Tables.supplier(s, d)
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, d).where(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name")))
        val offers = Tables.lineitem(s, d)
          .join(supNat, col("l_suppkey") === col("s_suppkey"))
          .select(col("l_partkey"), col("s_name"), col("s_acctbal"), col("n_name"),
            (col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
        val minCost = offers.groupBy(col("l_partkey"))
          .agg(min(col("unit_cost")).as("min_cost"))
        Tables.part(s, d)
          .where(col("p_size") === 15 && col("p_type") === "SMALL")
          .join(offers, col("p_partkey") === col("l_partkey"))
          .join(minCost, Seq("l_partkey"))
          .where(col("unit_cost") === col("min_cost"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("p_name"), col("unit_cost"))
          .distinct()
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
          .limit(100)
      },
      oracle = Some(
        """WITH offers AS (
          |  SELECT l_partkey, s_name, s_acctbal, n_name,
          |    l_extendedprice / l_quantity AS unit_cost
          |  FROM lineitem
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  WHERE r_name = 'EUROPE'
          |)
          |SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
          |FROM part JOIN offers ON p_partkey = l_partkey
          |WHERE p_size = 15 AND p_type = 'SMALL'
          |  AND unit_cost = (SELECT min(o2.unit_cost) FROM offers o2
          |                   WHERE o2.l_partkey = p_partkey)
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
          |LIMIT 100""".stripMargin),
      bench = false),

    // ---- TPC-H Q9 shape: product-type profit per nation and year — a
    // 5-table join with a LIKE-filtered part dimension (broadcast after
    // the pushed-down filter); profit uses p_retailprice as the cost
    // basis (no partsupp in the fixture). ----
    QueryDef.sql("q9_product_type_profit",
      s"""SELECT /*+ BROADCAST(part, supplier, nation) */ n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         |  ${Det.fixedSumSql(
             s"($revenueSql) - CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity", 2)} AS sum_profit
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE 'red%'
         |GROUP BY 1, 2 ORDER BY 1 ASC, 2 DESC""".stripMargin),

    // ---- TPC-H Q11 shape: groups whose share of a global total exceeds
    // a threshold — HAVING against a scalar subquery. Spark side: the
    // one-row total is crossJoin(broadcast(...)), the classic scalar
    // pattern; both sides of the comparison are fixed-point-exact sums,
    // so the > cut is bit-identical cross-engine. ----
    QueryDef.sql("q11_important_parts",
      s"""WITH base AS (
         |  SELECT /*+ BROADCAST(supplier, nation) */ l_partkey,
         |    ${Det.toFixedSql(revenueSql, 2)} AS v
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_3'
         |)
         |SELECT l_partkey, CAST(sum(v) AS DOUBLE) / 100 AS value
         |FROM base GROUP BY l_partkey
         |HAVING CAST(sum(v) AS DOUBLE) / 100 >
         |  (SELECT CAST(sum(v) AS DOUBLE) / 100 FROM base) * CAST(0.001 AS DOUBLE)
         |ORDER BY value DESC, l_partkey""".stripMargin,
      bench = false),

    // ---- TPC-H Q12 shape: per-group pair of conditional counts over a
    // fact-fact join with a date-arithmetic lateness predicate (the
    // fixture has no shipmode/receiptdate; returnflag groups, shipdate
    // vs orderdate+60d stands in). ----
    QueryDef("q12_late_priority_class",
      (s, d) => {
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy(col("l_returnflag"))
          .agg(
            sum(when(high, lit(1L)).otherwise(lit(0L))).as("high_line_count"),
            sum(when(!high, lit(1L)).otherwise(lit(0L))).as("low_line_count"))
          .orderBy(col("l_returnflag"))
      },
      oracle = Some(
        """SELECT l_returnflag,
          |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      bench = false),

    // ---- TPC-H Q15 shape: argmax group vs a scalar MAX subquery — the
    // "top supplier" view. Equality against the max is exact because
    // total_revenue is a fixed-point sum (identical doubles on both
    // engines), so ties surface identically too. ----
    QueryDef.sql("q15_top_supplier",
      s"""WITH rev AS (
         |  SELECT l_suppkey, ${Det.fixedSumSql(revenueSql, 2)} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
         |    AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
         |  GROUP BY l_suppkey
         |)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
      bench = false),

    // ---- TPC-H Q16 shape: distinct-supplier counts per part attribute
    // with a NOT IN supplier exclusion (anti-join of a broadcast list;
    // the exclusion set is NULL-free so anti == NOT IN). The
    // part-supplier bridge is lineitem (no partsupp in the fixture). ----
    QueryDef("q16_parts_supplier_count",
      (s, d) => {
        val excluded = Tables.supplier(s, d).where(col("s_acctbal") < 0)
          .select(col("s_suppkey").as("bad_suppkey"))
        Tables.part(s, d)
          .where(col("p_brand") =!= "Brand#2" && col("p_type") =!= "ECONOMY" &&
            col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
          .join(Tables.lineitem(s, d), col("p_partkey") === col("l_partkey"))
          .join(broadcast(excluded), col("l_suppkey") === col("bad_suppkey"), "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      },
      oracle = Some(
        """SELECT p_brand, p_type, p_size,
          |  count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM part JOIN lineitem ON p_partkey = l_partkey
          |WHERE p_brand <> 'Brand#2' AND p_type <> 'ECONOMY'
          |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          |GROUP BY p_brand, p_type, p_size
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
      bench = false),

    // ---- TPC-H Q20 shape: nested semi-join chain — suppliers qualified
    // by a HAVING-filtered aggregate over a LIKE-filtered part subset.
    // Both inner filters collapse to one grouped agg + left-semi join;
    // the qty threshold compares fixed-point-exact sums. ----
    QueryDef.sql("q20_promotion_suppliers",
      s"""SELECT /*+ BROADCAST(nation) */ s_name, s_acctbal
         |FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_3' AND s_suppkey IN (
         |  SELECT /*+ BROADCAST(part) */ l_suppkey
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_name LIKE 'red%'
         |    AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
         |    AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
         |  GROUP BY l_suppkey, l_partkey
         |  HAVING ${Det.fixedSumSql("l_quantity", 2)} > 20.0
         |)
         |ORDER BY s_name""".stripMargin,
      bench = false),

    // ---- TPC-H Q21 shape: EXISTS + NOT EXISTS self-joins on the fact —
    // suppliers who were the ONLY late shipper on a finished multi-
    // supplier order. Late = shipdate > orderdate + 90d (no receiptdate
    // in the fixture). Plans as left-semi then left-anti on orderkey
    // with a suppkey-inequality residual — no nested loop. ----
    QueryDef("q21_suppliers_kept_waiting",
      (s, d) => {
        val lateLines = Tables.lineitem(s, d)
          .join(Tables.orders(s, d).where(col("o_orderstatus") === "F"),
            col("l_orderkey") === col("o_orderkey"))
          .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .select(col("l_orderkey").as("orderkey"), col("l_suppkey").as("suppkey"))
        val allLines = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("l2_orderkey"), col("l_suppkey").as("l2_suppkey"))
        val lateOther = lateLines
          .select(col("orderkey").as("l3_orderkey"), col("suppkey").as("l3_suppkey"))
        lateLines
          .join(broadcast(Tables.supplier(s, d)), col("suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d).where(col("n_name") === "NATION_19")),
            col("s_nationkey") === col("n_nationkey"))
          .join(allLines,
            col("orderkey") === col("l2_orderkey") && col("suppkey") =!= col("l2_suppkey"),
            "left_semi")
          .join(lateOther,
            col("orderkey") === col("l3_orderkey") && col("suppkey") =!= col("l3_suppkey"),
            "left_anti")
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(100)
      },
      oracle = Some(
        """SELECT s_name, count(*) AS numwait
          |FROM lineitem l1
          |JOIN orders ON o_orderkey = l1.l_orderkey
          |JOIN supplier ON s_suppkey = l1.l_suppkey
          |JOIN nation ON n_nationkey = s_nationkey
          |WHERE o_orderstatus = 'F' AND n_name = 'NATION_19'
          |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND o3.o_orderstatus = 'F'
          |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
          |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)),

    // ---- FULL OUTER join of two grouped aggregates with coalesced keys
    // — the reconciliation shape (rows surviving from either side).
    // Plans as a shuffle full-outer hash join on the nation key. ----
    QueryDef.sql("join_full_outer",
      """WITH c AS (
        |  SELECT c_nationkey, count(*) AS n_cust FROM customer
        |  WHERE c_mktsegment = 'BUILDING' GROUP BY 1
        |), s AS (
        |  SELECT s_nationkey, count(*) AS n_supp FROM supplier
        |  WHERE s_acctbal > 0 GROUP BY 1
        |)
        |SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM c FULL JOIN s ON c_nationkey = s_nationkey
        |ORDER BY nationkey""".stripMargin,
      bench = false),

    // ---- multiset set ops (INTERSECT ALL / EXCEPT ALL): bag semantics —
    // per-value multiplicity min / difference — vs the distinct set ops
    // already in the catalog. Grouped after the op so the output is a
    // small deterministic histogram. ----
    QueryDef.sql("set_intersect_all",
      """SELECT o_orderpriority, count(*) AS n FROM (
        |  SELECT o_orderpriority FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
        |  INTERSECT ALL
        |  SELECT o_orderpriority FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '2000-01-01 00:00:00'
        |)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      bench = false),

    QueryDef.sql("set_except_all",
      """SELECT o_orderpriority, count(*) AS n FROM (
        |  SELECT o_orderpriority FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
        |  EXCEPT ALL
        |  SELECT o_orderpriority FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '2000-01-01 00:00:00'
        |)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      bench = false),

    // ---- the fixed-point summation idiom written as literal SQL ----
    QueryDef.sql("sql_interface_revenue",
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100, 0)
        |    AS BIGINT)) AS DOUBLE) / 100 AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      bench = false),

    // ---- recursive CTE (Spark 4 WITH RECURSIVE): ancestor-chain walk
    // over the implied part hierarchy (parent = floor(key / 4) — an
    // acyclic 4-ary tree rooted at 0). Spark supports UNION ALL
    // recursion; the chain terminates at the root, depth ~ log4(|part|).
    // The division is spelled the one way both dialects accept (Spark
    // has no `//`, DuckDB no `DIV`). ----
    QueryDef.sql("recursive_hierarchy_walk",
      """WITH RECURSIVE anc(part, ancestor, depth) AS (
        |  SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey AS BIGINT),
        |    CAST(0 AS INT)
        |  FROM part WHERE p_partkey < 15
        |  UNION ALL
        |  SELECT part, CAST(floor(ancestor / 4) AS BIGINT), depth + 1
        |  FROM anc WHERE ancestor > 0
        |)
        |SELECT part, ancestor, depth FROM anc
        |ORDER BY part, depth""".stripMargin,
      bench = false),

    // ---- Z-order (Morton) clustering key: one sort column serving TWO
    // filter dimensions — range-partition + sort by zkey at write time
    // and every file gets a tight min/max envelope on BOTH l_partkey and
    // l_suppkey, so either predicate prunes row groups (see
    // operators.Layout + SCALING.md). Pure shift/and/or built-ins,
    // whole-stage codegen'd, same arithmetic in the oracle. ----
    QueryDef("layout_zorder",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          graft.operators.Layout.mortonKey(col("l_partkey"), col("l_suppkey")).as("zkey"))
        .orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))
        .limit(100),
      oracle = Some(
        s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |  ${graft.operators.Layout.mortonKeySql("l_partkey", "l_suppkey")} AS zkey
           |FROM lineitem
           |ORDER BY zkey, l_orderkey, l_linenumber LIMIT 100""".stripMargin),
      bench = false),

    // ---- Hilbert-curve clustering key (locality-superior alternative to
    //      layout_zorder: consecutive keys are ALWAYS adjacent cells, so
    //      range scans touch fewer files — see LayoutSpec's adjacency
    //      proof). Native 16-level integer-loop expression in whole-stage
    //      codegen; oracle = the generated per-level CTE chain. ----
    QueryDef("layout_hilbert",
      (s, d) => {
        import graft.operators.Layout
        // range-bucket each dimension into [0, 2^16) first: raw keys past
        // 2^order would wrap in the bit walk and void the locality claim
        val b = Tables.lineitem(s, d).agg(
          min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
          min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
        Tables.lineitem(s, d).crossJoin(broadcast(b))
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"),
            Layout.hilbertKey(
              Layout.rangeBucket(col("l_partkey"), col("pmin"), col("pmax"), 16),
              Layout.rangeBucket(col("l_suppkey"), col("smin"), col("smax"), 16),
              order = 16).as("hkey"))
          .orderBy(col("hkey"), col("l_orderkey"), col("l_linenumber"))
          .limit(100)
      },
      oracle = Some {
        import graft.operators.Layout
        val keep = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        s"""WITH bounds AS (
           |  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
           |    min(l_suppkey) AS smin, max(l_suppkey) AS smax
           |  FROM lineitem
           |),
           |base AS (
           |  SELECT ${keep.mkString(", ")},
           |    ${Layout.rangeBucketSql("l_partkey", "pmin", "pmax", 16)} AS bx,
           |    ${Layout.rangeBucketSql("l_suppkey", "smin", "smax", 16)} AS by
           |  FROM lineitem, bounds
           |),
           |${Layout.hilbertCtesSql("base", "bx", "by", 16, keep)}
           |SELECT ${keep.mkString(", ")}, hd16 AS hkey
           |FROM h16
           |ORDER BY hkey, l_orderkey, l_linenumber LIMIT 100""".stripMargin
      },
      bench = false),

    // ---- Blocked fuzzy join (record linkage): candidate pairs share a
    //      blocking key (the noun of the two-word part name) and pass a
    //      Levenshtein edit-distance gate. Blocking turns the quadratic
    //      all-pairs compare into per-block equi-join fan-out — the
    //      standard entity-resolution shape at scale (the block key would
    //      be a q-gram or phonetic code on real data; skewed blocks get
    //      the salted-join treatment, see join_salted_skew). Output is
    //      aggregated to distinct name pairs so the result stays bounded
    //      while still proving every candidate pair was scored. ----
    QueryDef("join_fuzzy_blocked",
      (s, d) => {
        val p = Tables.part(s, d)
          .select(col("p_partkey"), col("p_name"),
            split(col("p_name"), " ").getItem(1).as("block"))
        val a = p.select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
          col("block"))
        val b = p.select(col("p_partkey").as("b_key"), col("p_name").as("b_name"),
          col("block"))
        // Distance computed ONCE per pair (filter + agg share the
        // projected column — the naive where(lev<=3) + max(lev) form
        // runs the DP twice), with the THRESHOLD variant: banded
        // O(len·k) instead of O(len²) per pair, returning -1 past the
        // bound. A |len| pre-filter prunes pairs before any DP at all.
        // Same result, ~7× less per-pair work on the blocked cross
        // product — the term that dominates at corpus scale.
        a.join(b, Seq("block"))
          .where(col("a_key") < col("b_key") &&
            abs(length(col("a_name")) - length(col("b_name"))) <= 3)
          .withColumn("ld", levenshtein(col("a_name"), col("b_name"), 3))
          .where(col("ld") >= 0)
          .groupBy(col("a_name"), col("b_name"))
          .agg(count(lit(1)).as("n_pairs"),
            max(col("ld")).as("edit_dist"))
          .orderBy(col("a_name"), col("b_name"))
      },
      oracle = Some(
        """SELECT a.p_name AS a_name, b.p_name AS b_name,
          |  COUNT(*) AS n_pairs,
          |  MAX(levenshtein(a.p_name, b.p_name)) AS edit_dist
          |FROM part a JOIN part b
          |  ON string_split(a.p_name, ' ')[2] = string_split(b.p_name, ' ')[2]
          | AND a.p_partkey < b.p_partkey
          | AND levenshtein(a.p_name, b.p_name) <= 3
          |GROUP BY a.p_name, b.p_name
          |ORDER BY a_name, b_name""".stripMargin),
      bench = false),

    // ---- Pareto skyline (minimize price, maximize size): the quadratic
    //      NOT EXISTS dominance test rewritten as two window passes over
    //      per-price maxima — O(n log n) shuffle-sort instead of an O(n²)
    //      theta join, the formulation that survives 100 TB. A part is on
    //      the skyline iff it has the max size at its price AND is
    //      strictly larger than every strictly-cheaper part's size. ----
    QueryDef("sort_pareto_skyline",
      (s, d) => {
        val p = Tables.part(s, d)
        val perPrice = p.groupBy(col("p_retailprice").as("price"))
          .agg(max(col("p_size")).as("ms"))
        // distinct prices scale with the data (near-continuous), so the
        // strict-predecessor running max is range-partitioned
        // (operators.RangeCum), not a global single-task window
        val frontier = graft.operators.RangeCum.withCums(perPrice, "price",
          Seq(graft.operators.RangeCum.Cum("ms", "cheaper_ms",
            agg = "max", inclusive = false)))
        p.join(frontier, p("p_retailprice") === frontier("price"))
          .where(col("p_size") === col("ms") &&
            (col("cheaper_ms").isNull || col("p_size") > col("cheaper_ms")))
          .select(col("p_partkey"), col("p_name"),
            col("p_retailprice"), col("p_size"))
          .orderBy(col("p_retailprice"), col("p_partkey"))
      },
      oracle = Some(
        """WITH per_price AS (
          |  SELECT p_retailprice AS price, MAX(p_size) AS ms
          |  FROM part GROUP BY p_retailprice
          |), frontier AS (
          |  SELECT price, ms,
          |    MAX(ms) OVER (ORDER BY price
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cheaper_ms
          |  FROM per_price
          |)
          |SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
          |FROM part p JOIN frontier f ON p.p_retailprice = f.price
          |WHERE p.p_size = f.ms
          |  AND (f.cheaper_ms IS NULL OR p.p_size > f.cheaper_ms)
          |ORDER BY p.p_retailprice, p.p_partkey""".stripMargin),
      bench = false),

    // ---- Frequent-itemset pairs (market-basket co-occurrence): distinct
    //      part pairs within an order, counted by support. The self-join
    //      is keyed on the basket id, so it shuffles once on l_orderkey
    //      and fans out per-basket — the a-priori candidate-generation
    //      shape. Support ranking + deterministic tie-break keeps the
    //      top-20 hashable. ----
    QueryDef("agg_frequent_pairs",
      (s, d) => {
        val items = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val a = items.select(col("ok"), col("pk").as("pa"))
        val b = items.select(col("ok"), col("pk").as("pb"))
        a.join(b, Seq("ok"))
          .where(col("pa") < col("pb"))
          .groupBy(col("pa"), col("pb"))
          .agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("pa"), col("pb"))
          .limit(20)
      },
      oracle = Some(
        """WITH items AS (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
          |)
          |SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS support
          |FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
          |GROUP BY a.pk, b.pk
          |ORDER BY support DESC, pa, pb LIMIT 20""".stripMargin),
      bench = false)
  )

  private def custsIn(s: org.apache.spark.sql.SparkSession, d: String,
      from: String, to: String): DataFrame =
    Tables.orders(s, d)
      .where(col("o_orderdate") >= ts(from) && col("o_orderdate") < ts(to))
      .select(col("o_custkey").as("custkey"))

  private def custSql(from: String, to: String): String =
    s"""SELECT o_custkey AS custkey FROM orders
       |WHERE o_orderdate >= TIMESTAMP '$from 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '$to 00:00:00'""".stripMargin
}
