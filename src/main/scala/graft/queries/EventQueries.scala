package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.AsOfJoin
import graft.util.Det
import graft.util.Stage.StageOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-series / event-stream analytics over the `events` table
  * (SURVEY.md §7.6): tumbling windows, sessionization, as-of semantics,
  * lag/lead analytics, pivot. These are the batch duals of the
  * Structured Streaming operators in graft.streaming.
  */
object EventQueries {

  val defs: Seq[QueryDef] = Seq(

    // ---- tumbling window aggregation (batch dual of streaming window) ----
    QueryDef("events_tumbling_window",
      (s, d) => Tables.events(s, d)
        .groupBy(
          date_trunc("hour", col("ts")).as("window_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          Det.fixedSum(col("value"), 2).as("sum_value"),
          Det.fixedAvg(col("value"), 2).as("avg_value"))
        .orderBy(col("window_start"), col("event_type")),
      oracle = Some(
        s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
           |  count(*) AS n_events,
           |  ${Det.fixedSumSql("value", 2)} AS sum_value,
           |  ${Det.fixedAvgSql("value", 2)} AS avg_value
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = false),

    // ---- sliding windows (1h length, 30min slide): each event lands in
    // exactly 2 windows; oracle = two epoch-aligned shifted buckets ----
    QueryDef("events_sliding_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          Det.fixedSum(col("value"), 2).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type")),
      oracle = Some(
        s"""WITH exploded AS (
           |  SELECT make_timestamp((epoch_us(ts) // 1800000000 - i) * 1800000000)
           |           AS window_start,
           |         event_type, value
           |  FROM events, (VALUES (0), (1)) shifts(i)
           |)
           |SELECT window_start, event_type,
           |  count(*) AS n_events,
           |  ${Det.fixedSumSql("value", 2)} AS sum_value
           |FROM exploded GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = false),

    // ---- rolling median over a BOUNDED 7-row frame per user: the
    //      robust-smoothing window built-ins don't cover (no median over
    //      ROWS frames in either engine's window set). Sorted-frame pick
    //      via collect_list over the frame — per-row O(f log f) with f
    //      bounded by the frame, so it scales; the even-count average is
    //      the SAME (lo+hi)/2 formula in both engines (DuckDB's
    //      quantile_cont interpolation a+0.5(b-a) is NOT bit-identical
    //      to it, so the oracle mirrors the pick, not median()). ----
    QueryDef("window_rolling_median",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
        val arr = sort_array(collect_list(col("value")).over(w))
        val n = size(arr)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .withColumn("med7",
            (element_at(arr, (((n - 1) / 2) + 1).cast("int"))
              + element_at(arr, ((n / 2) + 1).cast("int"))) / 2.0)
          .orderBy(col("user_id"), col("ts"), col("event_id"))
      },
      oracle = Some(
        """WITH w AS (
          |  SELECT user_id, event_id, ts, value,
          |    list_sort(list(value) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id
          |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
          |  FROM events
          |)
          |SELECT user_id, event_id, ts, value,
          |  (arr[((len(arr)-1)//2) + 1] + arr[(len(arr)//2) + 1]) / 2.0 AS med7
          |FROM w ORDER BY user_id, ts, event_id""".stripMargin),
      bench = false),

    // ---- sessionization: 30-min inactivity gap via lag + running sum ----
    QueryDef("events_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
        val isNew = when(gapUs.isNull || gapUs > lit(1800L * 1000000L), 1L).otherwise(0L)
        Tables.events(s, d)
          .withColumn("session_seq",
            sum(isNew).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(
            count(lit(1)).as("n_events"),
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            Det.fixedSum(col("value"), 2).as("session_value"))
          .orderBy(col("user_id"), col("session_seq"))
      },
      oracle = Some(
        s"""WITH flagged AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
           |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
           |         THEN 1 ELSE 0 END AS is_new
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |), sessioned AS (
           |  SELECT user_id, ts, value,
           |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
           |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS session_seq
           |  FROM flagged
           |)
           |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           |  count(*) AS n_events,
           |  min(ts) AS session_start,
           |  max(ts) AS session_end,
           |  ${Det.fixedSumSql("value", 2)} AS session_value
           |FROM sessioned GROUP BY user_id, session_seq
           |ORDER BY user_id, session_seq""".stripMargin)),

    // ---- latest event per user (as-of snapshot via row_number) ----
    QueryDef.sql("events_latest_per_user",
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,
      bench = false),

    // ---- as-of join: each purchase <- the user's latest click at or
    // before it (union+window operator, see graft.operators.AsOfJoin) ----
    QueryDef("events_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        // dedupe clicks to one row per (user, ts) so the as-of pick is
        // deterministic (latest event_id wins), matching the oracle
        val clicks = ev.where(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts").as("click_ts"))
          .agg(max(col("event_id")).as("click_event_id"))
        AsOfJoin.leftAsOf(
          left = purchases, right = clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "click_ts",
          payload = Seq("click_ts", "click_event_id"),
          tiebreakCol = "click_event_id", outPrefix = "")
          .orderBy(col("event_id"))
      },
      oracle = Some(
        """SELECT p.event_id, p.user_id, p.ts, p.value,
          |       c.click_ts, c.click_event_id
          |FROM (SELECT event_id, user_id, ts, value FROM events
          |      WHERE event_type = 'purchase') p
          |ASOF LEFT JOIN (SELECT user_id, ts AS click_ts,
          |                       max(event_id) AS click_event_id
          |                FROM events WHERE event_type = 'click'
          |                GROUP BY user_id, ts) c
          |  ON p.user_id = c.user_id AND p.ts >= c.click_ts
          |ORDER BY p.event_id""".stripMargin)),

    // ---- FORWARD as-of: each purchase matched to the user's EARLIEST
    //      click at-or-after it (the "next event" lookup; pandas
    //      merge_asof direction='forward'). Same one-shuffle union +
    //      window pattern, mirrored; oracle = decorrelated min-struct
    //      scalar subquery. ----
    QueryDef("events_asof_forward",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val clicks = ev.where(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts").as("click_ts"))
          .agg(max(col("event_id")).as("click_event_id"))
        AsOfJoin.leftAsOfForward(
          left = purchases, right = clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "click_ts",
          payload = Seq("click_ts", "click_event_id"),
          tiebreakCol = "click_event_id", outPrefix = "")
          .orderBy(col("event_id"))
      },
      oracle = Some(
        // union + window dual of the Spark dataflow (NOT a correlated
        // scalar subquery: DuckDB 1.0 materializes the decorrelated
        // per-user join beyond its memory limit at the 100x slice,
        // while the window form streams in one sort)
        """WITH p AS (SELECT event_id, user_id, ts, value FROM events
          |           WHERE event_type = 'purchase'),
          |c AS (SELECT user_id, ts AS cts, max(event_id) AS cid
          |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
          |u AS (
          |  SELECT user_id, ts AS _ts, 0 AS _side, event_id, value,
          |    CAST(NULL AS STRUCT(t TIMESTAMP, tb BIGINT)) AS pl
          |  FROM p
          |  UNION ALL
          |  SELECT user_id, cts, 1, NULL, NULL,
          |    struct_pack(t := cts, tb := cid)
          |  FROM c),
          |w AS (
          |  SELECT *, min(pl) OVER (PARTITION BY user_id
          |    ORDER BY _ts, _side, struct_extract(pl, 'tb')
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS m
          |  FROM u)
          |SELECT event_id, user_id, _ts AS ts, value,
          |  struct_extract(m, 't') AS click_ts,
          |  struct_extract(m, 'tb') AS click_event_id
          |FROM w WHERE _side = 0 ORDER BY event_id""".stripMargin)),

    // ---- NEAREST as-of with tolerance: each purchase matched to the
    //      click with the smallest |gap| within 30 minutes, past or
    //      future; exact-distance ties resolve backward (the pandas
    //      direction='nearest' convention). One shuffle, one sort, two
    //      window frames. ----
    QueryDef("events_asof_nearest",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val clicks = ev.where(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts").as("click_ts"))
          .agg(max(col("event_id")).as("click_event_id"))
        AsOfJoin.leftAsOfNearest(
          left = purchases, right = clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "click_ts",
          payload = Seq("click_ts", "click_event_id"),
          tiebreakCol = "click_event_id",
          tolerance = Some(1800000000.0), // 30 min in micros
          outPrefix = "")
          .orderBy(col("event_id"))
      },
      oracle = Some(
        // one union, one sort, two window frames — the same shape the
        // Spark plan runs (right rows sort FIRST at equal ts: backward
        // is inclusive, forward strictly-after; a gap-0 backward match
        // wins nearest anyway). Correlated-subquery form OOMs DuckDB
        // at the 100x slice; this streams.
        """WITH p AS (SELECT event_id, user_id, ts, value FROM events
          |           WHERE event_type = 'purchase'),
          |c AS (SELECT user_id, ts AS cts, max(event_id) AS cid
          |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
          |u AS (
          |  SELECT user_id, ts AS _ts, 1 AS _side, event_id, value,
          |    CAST(NULL AS STRUCT(t TIMESTAMP, tb BIGINT)) AS pl
          |  FROM p
          |  UNION ALL
          |  SELECT user_id, cts, 0, NULL, NULL,
          |    struct_pack(t := cts, tb := cid)
          |  FROM c),
          |w AS (
          |  SELECT *,
          |    max(pl) OVER (PARTITION BY user_id
          |      ORDER BY _ts, _side, struct_extract(pl, 'tb')
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b,
          |    min(pl) OVER (PARTITION BY user_id
          |      ORDER BY _ts, _side, struct_extract(pl, 'tb')
          |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f
          |  FROM u),
          |j AS (
          |  SELECT event_id, user_id, _ts AS ts, value, b, f
          |  FROM w WHERE _side = 1),
          |g AS (
          |  SELECT *,
          |    CASE WHEN b IS NOT NULL AND epoch_us(ts)
          |           - epoch_us(struct_extract(b, 't')) <= 1800000000
          |         THEN b END AS bv,
          |    CASE WHEN f IS NOT NULL AND epoch_us(struct_extract(f, 't'))
          |           - epoch_us(ts) <= 1800000000
          |         THEN f END AS fv
          |  FROM j),
          |pick AS (
          |  SELECT *,
          |    CASE WHEN fv IS NULL THEN bv
          |         WHEN bv IS NULL THEN fv
          |         WHEN epoch_us(ts) - epoch_us(struct_extract(bv, 't'))
          |           <= epoch_us(struct_extract(fv, 't')) - epoch_us(ts)
          |         THEN bv ELSE fv END AS m
          |  FROM g)
          |SELECT event_id, user_id, ts, value,
          |  struct_extract(m, 't') AS click_ts,
          |  struct_extract(m, 'tb') AS click_event_id
          |FROM pick ORDER BY event_id""".stripMargin)),

    // ---- native session windows (session_window): same 30-min-gap
    // semantics as events_sessionize but via Spark's built-in session
    // operator (merging-window aggregation, also the streaming form).
    // Oracle = the lag+running-sum formulation, which must produce
    // identical session boundaries. ----
    QueryDef("events_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          Det.fixedSum(col("value"), 2).as("session_value"))
        .select(col("user_id"), col("session_start"), col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start")),
      oracle = Some(
        s"""WITH flagged AS (
           |  SELECT user_id, event_id, ts, value,
           |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
           |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
           |         THEN 1 ELSE 0 END AS is_new
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |), sessions AS (
           |  SELECT user_id, ts, value,
           |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS UNBOUNDED PRECEDING) AS session_seq
           |  FROM flagged
           |)
           |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           |  ${Det.fixedSumSql("value", 2)} AS session_value
           |FROM sessions GROUP BY user_id, session_seq
           |ORDER BY user_id, session_start""".stripMargin),
      bench = false),

    // ---- range/interval join: purchases within 1h after each click,
    // per user. Equi-key (user_id) + range predicate -> a co-partitioned
    // shuffle join whose per-key workload is bounded by user activity,
    // not corpus size. ----
    QueryDef("events_range_join",
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.where(col("event_type") === "click")
          .select(col("event_id").as("click_event_id"),
            col("user_id"), col("ts").as("click_ts"))
        val purchases = e.where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
        clicks
          .join(purchases,
            col("user_id") === col("p_user") &&
              col("p_ts") > col("click_ts") &&
              col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
            "left")
          .groupBy(col("click_event_id"), col("user_id"), col("click_ts"))
          .agg(
            count(col("p_ts")).as("n_purchases"),
            Det.fixedSum(col("value"), 2).as("purchase_value"))
          .orderBy(col("click_event_id"))
      },
      oracle = Some(
        s"""WITH clicks AS (
           |  SELECT event_id AS click_event_id, user_id, ts AS click_ts
           |  FROM events WHERE event_type = 'click'
           |), purchases AS (
           |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
           |)
           |SELECT c.click_event_id, c.user_id, c.click_ts,
           |  count(p.ts) AS n_purchases,
           |  ${Det.fixedSumSql("p.value", 2)} AS purchase_value
           |FROM clicks c LEFT JOIN purchases p
           |  ON p.user_id = c.user_id
           | AND p.ts > c.click_ts AND p.ts <= c.click_ts + INTERVAL 1 HOUR
           |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),

    // ---- lag/lead analytics ----
    QueryDef.sql("events_lag_lead",
      """SELECT user_id, event_id, ts, value,
        |  lag(value) OVER w AS prev_value,
        |  lead(value) OVER w AS next_value,
        |  value - lag(value) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin,
      bench = false),

    // ---- pivot (conditional aggregation with a fixed column set) ----
    QueryDef("events_pivot_type_counts",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id")),
      oracle = Some(
        """SELECT user_id,
          |  count(*) FILTER (event_type = 'click') AS click,
          |  count(*) FILTER (event_type = 'error') AS error,
          |  count(*) FILTER (event_type = 'purchase') AS purchase,
          |  count(*) FILTER (event_type = 'signup') AS signup,
          |  count(*) FILTER (event_type = 'view') AS view
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      bench = false),

    // ---- KEYLESS interval join via time-banding (RangeJoin): purchases
    // by ANY user within 1h after each click. No equality conjunct exists,
    // so a direct theta join would plan BroadcastNestedLoopJoin (|L|x|R|
    // at scale); the banded rewrite joins on an integer time-band key and
    // filters the exact interval inside each band — one shuffle, local
    // joins. Inner banded join + left join of aggregates back onto clicks
    // preserves zero-match clicks. ----
    QueryDef("join_banded_interval",
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.where(col("event_type") === "click")
          .select(col("event_id").as("click_event_id"), col("ts").as("click_ts"))
        val purchases = e.where(col("event_type") === "purchase")
          .select(col("ts").as("p_ts"), col("value"))
        val agg = graft.operators.RangeJoin
          .bandedIntervalAfter(clicks, purchases, "click_ts", "p_ts", widthSec = 3600L)
          .groupBy(col("click_event_id"))
          .agg(count(col("p_ts")).as("n_purchases"),
            Det.fixedSum(col("value"), 2).as("purchase_value"))
        clicks.join(agg, Seq("click_event_id"), "left")
          .select(col("click_event_id"), col("click_ts"),
            coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
            col("purchase_value"))
          .orderBy(col("click_event_id"))
      },
      oracle = Some(
        s"""WITH clicks AS (
           |  SELECT event_id AS click_event_id, ts AS click_ts
           |  FROM events WHERE event_type = 'click'
           |), purchases AS (
           |  SELECT ts AS p_ts, value FROM events WHERE event_type = 'purchase'
           |)
           |SELECT c.click_event_id, c.click_ts,
           |  count(p.p_ts) AS n_purchases,
           |  ${Det.fixedSumSql("p.value", 2)} AS purchase_value
           |FROM clicks c LEFT JOIN purchases p
           |  ON p.p_ts > c.click_ts AND p.p_ts <= c.click_ts + INTERVAL 1 HOUR
           |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // ---- INTERVAL × INTERVAL overlap join (banded): heavy lineitems of
    //      the same supplier whose shipping windows [ship, ship+qty days)
    //      overlap — logistics-contention pairs. Each interval lands in
    //      ≤2 fifty-day bands; the exact predicate filters band
    //      collisions and the canonical-band rule (emit where the
    //      overlap region begins) makes each pair appear exactly once
    //      WITHOUT a distinct over the output — the output is the
    //      largest frame in the query, so that saved shuffle is the
    //      point. Oracle = the quadratic theta join (exact). ----
    QueryDef("join_interval_overlap",
      (s, d) => {
        val li = Tables.lineitem(s, d).where(col("l_quantity") >= 45)
          .select(
            (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"),
            col("l_suppkey").as("supp"),
            col("l_shipdate").cast("timestamp").cast("long").as("st"),
            (col("l_shipdate").cast("timestamp").cast("long")
              + col("l_quantity").cast("long") * 86400L).as("en"))
        val a = li.select(col("id").as("a_id"), col("supp"),
          col("st").as("a_s"), col("en").as("a_e"))
        val b = li.select(col("id").as("b_id"), col("supp"),
          col("st").as("b_s"), col("en").as("b_e"))
        graft.operators.RangeJoin.intervalOverlapJoin(
          a, b, "a_s", "a_e", "b_s", "b_e",
          keys = Seq("supp"), bandSec = 50L * 86400L)
          .where(col("a_id") < col("b_id"))
          .select(col("supp"), col("a_id"), col("b_id"),
            (least(col("a_e"), col("b_e"))
              - greatest(col("a_s"), col("b_s"))).as("overlap_sec"))
          .orderBy(col("supp"), col("a_id"), col("b_id"))
      },
      oracle = Some(
        """WITH li AS (
          |  SELECT l_orderkey * 10 + l_linenumber AS id, l_suppkey AS supp,
          |    CAST(epoch(l_shipdate) AS BIGINT) AS st,
          |    CAST(epoch(l_shipdate) AS BIGINT) + CAST(l_quantity AS BIGINT) * 86400 AS en
          |  FROM lineitem WHERE l_quantity >= 45
          |)
          |SELECT a.supp AS supp, a.id AS a_id, b.id AS b_id,
          |  least(a.en, b.en) - greatest(a.st, b.st) AS overlap_sec
          |FROM li a JOIN li b
          |  ON a.supp = b.supp AND a.id < b.id
          | AND a.st < b.en AND b.st < a.en
          |ORDER BY a.supp, a_id, b_id""".stripMargin)),

    // ---- positional (zip) join — the reference's literal `rdd.zip`
    //      primitive (Main.scala:183,198) as a catalog row (VERDICT r7
    //      #8). Pairs the i-th smallest purchase value with the i-th
    //      smallest click value (the full quantile-quantile pairing that
    //      stats_qq_deciles samples at 9 points). Index comes from
    //      graft.operators.Zip's distributed prefix-count — row_number
    //      semantics with NO global single-task window; the oracle uses
    //      the window form, which DuckDB runs fine at oracle scale. ----
    QueryDef("join_zip_positional",
      (s, d) => {
        val ev = Tables.events(s, d)
        val p = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("value").as("p_value"))
        val c = ev.where(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("value").as("c_value"))
        graft.operators.Zip.zipByOrder(
            p, Seq("p_value", "p_id"), c, Seq("c_value", "c_id"))
          .select(col("pos"), col("p_id"), col("p_value"),
            col("c_id"), col("c_value"))
          .orderBy(col("pos"))
      },
      oracle = Some(
        """WITH p AS (
          |  SELECT event_id AS p_id, value AS p_value,
          |    row_number() OVER (ORDER BY value, event_id) AS pos
          |  FROM events WHERE event_type = 'purchase'
          |), c AS (
          |  SELECT event_id AS c_id, value AS c_value,
          |    row_number() OVER (ORDER BY value, event_id) AS pos
          |  FROM events WHERE event_type = 'click'
          |)
          |SELECT pos, p_id, p_value, c_id, c_value
          |FROM p JOIN c USING (pos)
          |ORDER BY pos""".stripMargin),
      bench = false),

    // ---- OHLC resampling (time-series downsample to 6h bars): open =
    //      value at the earliest event in the bar, close = at the
    //      latest, plus min/max/count — min_by/max_by keyed on (ts,
    //      event_id) so bars are deterministic under ts ties. ONE
    //      grouped aggregation; DuckDB dual via arg_min/arg_max on the
    //      same composite key. ----
    QueryDef("events_ohlc_bars",
      (s, d) => Tables.events(s, d)
        .groupBy(
          timestamp_seconds(
            floor(unix_seconds(col("ts")) / 21600L).cast("long") * 21600L)
            .as("bar_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"))
        .orderBy(col("bar_start"), col("event_type")),
      oracle = Some(
        """SELECT make_timestamp((epoch_us(ts) // 21600000000)
          |    * 21600000000) AS bar_start,
          |  event_type, count(*) AS n_events,
          |  arg_min(value, CAST(epoch_us(ts) AS HUGEINT) * 100000000
          |    + event_id) AS open,
          |  max(value) AS high, min(value) AS low,
          |  arg_max(value, CAST(epoch_us(ts) AS HUGEINT) * 100000000
          |    + event_id) AS close
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- VARIANT (Spark 4 semi-structured type): parse once, extract
    // typed paths. At scale VARIANT beats per-path get_json_object — the
    // binary encoding parses the JSON once per row instead of once per
    // extraction, and columnar readers can shred frequent paths. ----
    QueryDef("variant_funcs",
      (s, d) => {
        val v = parse_json(col("props"))
        Tables.events(s, d).where(col("event_id") < 2000)
          .select(
            col("event_id"),
            variant_get(v, "$.k", "int").as("k_int"),
            variant_get(v, "$.k", "string").as("k_str"),
            variant_get(v, "$.missing", "int").as("k_missing"),
            is_variant_null(variant_get(v, "$.k", "variant")).as("k_is_jsonnull"))
          .orderBy(col("event_id"))
      },
      oracle = Some(
        """SELECT event_id,
          |  CAST(json_extract(props, '$.k') AS INT) AS k_int,
          |  json_extract_string(props, '$.k') AS k_str,
          |  CAST(json_extract(props, '$.missing') AS INT) AS k_missing,
          |  false AS k_is_jsonnull
          |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin),
      bench = false),

    // ---- time-grid gap filling + forward fill (feature-pipeline
    // resampling): hourly average per user, densified to the user's full
    // [min,max] hour range via sequence+explode, missing hours forward-
    // filled with last(_, ignoreNulls) over a running frame. At scale the
    // grid explode is map-side (rows ~ users x hours, no extra shuffle)
    // and the fill is one window over the user partition — the same two-
    // shuffle shape regardless of gap density. ----
    QueryDef("events_gap_fill",
      (s, d) => {
        val hourly = Tables.events(s, d).where(col("user_id") < 20)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg(Det.fixedAvg(col("value"), 6).as("v"))
        val grid = hourly.groupBy(col("user_id"))
          .agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
          .select(col("user_id"),
            explode(sequence(col("hmin"), col("hmax"), expr("INTERVAL 1 HOUR"))).as("h"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("user_id", "h"), "left")
          .select(col("user_id"), col("h"), col("v"),
            last(col("v"), ignoreNulls = true).over(w).as("v_filled"))
          .orderBy(col("user_id"), col("h"))
      },
      oracle = Some(
        s"""WITH hourly AS (
           |  SELECT user_id, date_trunc('hour', ts) AS h,
           |    ${Det.fixedAvgSql("value", 6)} AS v
           |  FROM events WHERE user_id < 20 GROUP BY 1, 2
           |), grid AS (
           |  SELECT user_id,
           |    unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
           |  FROM hourly GROUP BY user_id
           |)
           |SELECT g.user_id AS user_id, g.h AS h, hourly.v AS v,
           |  last_value(hourly.v IGNORE NULLS) OVER (
           |    PARTITION BY g.user_id ORDER BY g.h
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
           |FROM grid g LEFT JOIN hourly ON g.user_id = hourly.user_id AND g.h = hourly.h
           |ORDER BY user_id, h""".stripMargin),
      bench = false),

    // ---- running COUNT(DISTINCT) per partition — not directly a Spark
    // window aggregate; the standard rewrite flags each key's first
    // occurrence (row_number over (user, type)) and running-sums the
    // flags over the user partition. Two window passes, both over the
    // same user-hash shuffle (one exchange at scale). ----
    QueryDef("window_cumulative_distinct",
      (s, d) => {
        val firstSeen = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val running = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d).where(col("user_id") < 50)
          .withColumn("f",
            when(row_number().over(firstSeen) === 1, lit(1)).otherwise(lit(0)))
          .select(col("user_id"), col("event_id"), col("event_type"),
            sum(col("f")).over(running).cast("long").as("cum_distinct_types"),
            col("ts"))
          .orderBy(col("user_id"), col("ts"), col("event_id"))
          .drop("ts")
      },
      oracle = Some(
        """WITH flagged AS (
          |  SELECT user_id, ts, event_id, event_type,
          |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
          |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS f
          |  FROM events WHERE user_id < 50
          |)
          |SELECT user_id, event_id, event_type,
          |  CAST(SUM(f) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    AS cum_distinct_types
          |FROM flagged ORDER BY user_id, ts, event_id""".stripMargin),
      bench = false),

    // ---- null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    // match NULL keys, so a nullable dimension key still hash-joins (the
    // null bucket is a normal hash bucket, not a dropped row). Ordering
    // pinned NULLS FIRST on both engines (their defaults differ). ----
    QueryDef.sql("join_null_safe",
      """WITH a AS (
        |  SELECT nullif(event_type, 'click') AS k, count(*) AS n_all
        |  FROM events GROUP BY 1
        |), b AS (
        |  SELECT nullif(event_type, 'click') AS k2, count(*) AS n_small
        |  FROM events WHERE user_id < 75 GROUP BY 1
        |)
        |SELECT k, n_all, n_small
        |FROM a JOIN b ON k IS NOT DISTINCT FROM k2
        |ORDER BY k NULLS FIRST""".stripMargin,
      bench = false),

    // ---- funnel conversion (view -> click -> purchase, strictly ordered
    // per user): each stage is a grouped MIN over the events AFTER the
    // previous stage's timestamp — three small aggs chained by user-key
    // joins (same-key shuffles; AQE coalesces), then one global count.
    // Conversion rates are ratios of exact counts. ----
    // Kept as a DataFrame: one cached events scan feeds the stages, where the text plans three.
    QueryDef("events_funnel",
      (s, d) => {
        val ev = Tables.events(s, d)
        // v and c (user-keyed aggregates) each feed the next stage AND
        // the final join — shared so each stage's scan+agg runs once
        val v = ev.where(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
          .stageShare()
        val c = ev.where(col("event_type") === "click")
          .join(v, Seq("user_id")).where(col("ts") > col("v_ts"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
          .stageShare()
        val p = ev.where(col("event_type") === "purchase")
          .join(c, Seq("user_id")).where(col("ts") > col("c_ts"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .agg(
            count(col("v_ts")).as("n_view"),
            count(col("c_ts")).as("n_view_click"),
            count(col("p_ts")).as("n_full_funnel"),
            (count(col("c_ts")).cast("double") / count(col("v_ts")).cast("double"))
              .as("click_rate"),
            (count(col("p_ts")).cast("double") / count(col("c_ts")).cast("double"))
              .as("purchase_rate"))
      },
      oracle = Some(
        """WITH v AS (
          |  SELECT user_id, min(ts) AS v_ts FROM events
          |  WHERE event_type = 'view' GROUP BY 1
          |), c AS (
          |  SELECT e.user_id, min(e.ts) AS c_ts FROM events e
          |  JOIN v ON e.user_id = v.user_id
          |  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1
          |), p AS (
          |  SELECT e.user_id, min(e.ts) AS p_ts FROM events e
          |  JOIN c ON e.user_id = c.user_id
          |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1
          |)
          |SELECT count(v_ts) AS n_view, count(c_ts) AS n_view_click,
          |  count(p_ts) AS n_full_funnel,
          |  CAST(count(c_ts) AS DOUBLE) / CAST(count(v_ts) AS DOUBLE) AS click_rate,
          |  CAST(count(p_ts) AS DOUBLE) / CAST(count(c_ts) AS DOUBLE) AS purchase_rate
          |FROM v LEFT JOIN c ON v.user_id = c.user_id
          |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin),
      bench = false),

    // ---- cohort retention: users bucketed by first-activity date, then
    // the distinct-active count per (cohort, day offset) with the
    // retention ratio against cohort size — one distinct-projection and
    // two grouped aggs, all user-key or cohort-key shuffles. ----
    QueryDef("events_cohort_retention",
      (s, d) => {
        val first = Tables.events(s, d)
          .groupBy(col("user_id")).agg(to_date(min(col("ts"))).as("cohort"))
        val cohortSize = first.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_n"))
        val activity = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        activity.join(first, Seq("user_id"))
          .withColumn("day_offset", datediff(col("day"), col("cohort")))
          .where(col("day_offset").between(0, 7))
          .groupBy(col("cohort"), col("day_offset"))
          .agg(count(lit(1)).as("n_active"))
          .join(cohortSize, Seq("cohort"))
          .select(col("cohort"), col("day_offset"), col("n_active"),
            (col("n_active").cast("double") / col("cohort_n").cast("double"))
              .as("retention"))
          .orderBy(col("cohort"), col("day_offset"))
      },
      oracle = Some(
        """WITH first AS (
          |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort FROM events GROUP BY 1
          |), size_ AS (
          |  SELECT cohort, count(*) AS cohort_n FROM first GROUP BY 1
          |), activity AS (
          |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
          |), ret AS (
          |  SELECT f.cohort, datediff('day', f.cohort, a.day) AS day_offset,
          |    count(*) AS n_active
          |  FROM activity a JOIN first f ON a.user_id = f.user_id
          |  WHERE datediff('day', f.cohort, a.day) BETWEEN 0 AND 7
          |  GROUP BY 1, 2
          |)
          |SELECT r.cohort AS cohort, r.day_offset AS day_offset,
          |  r.n_active AS n_active,
          |  CAST(r.n_active AS DOUBLE) / CAST(s.cohort_n AS DOUBLE) AS retention
          |FROM ret r JOIN size_ s ON r.cohort = s.cohort
          |ORDER BY cohort, day_offset""".stripMargin),
      bench = false),

    // ---- SCD2 change history (change-data compaction + versioning):
    // collapse consecutive equal attribute values per user (lag filter),
    // then version with row_number and close each interval with
    // lead(valid_from) — NULL valid_to marks the current version. Both
    // windows share one user-hash exchange. ----
    QueryDef("events_scd2_history",
      (s, d) => {
        val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d).where(col("user_id") < 20)
          .withColumn("prev_type", lag(col("event_type"), 1).over(order))
          .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
          .withColumn("version", row_number().over(order))
          .withColumn("valid_from", col("ts"))
          .withColumn("valid_to", lead(col("ts"), 1).over(order))
          .select(col("user_id"), col("version"), col("event_type"),
            col("valid_from"), col("valid_to"))
          .orderBy(col("user_id"), col("version"))
      },
      oracle = Some(
        """WITH changed AS (
          |  SELECT user_id, ts, event_id, event_type,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS prev_type
          |  FROM events WHERE user_id < 20
          |), versions AS (
          |  SELECT user_id, event_type, ts AS valid_from, event_id,
          |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS version,
          |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS valid_to
          |  FROM changed
          |  WHERE prev_type IS NULL OR prev_type <> event_type
          |)
          |SELECT user_id, version, event_type, valid_from, valid_to
          |FROM versions ORDER BY user_id, version""".stripMargin),
      bench = false),

    // ---- count-min-sketch heavy hitters with a tolerance contract: the
    // CMS is built distributed (counter merges are commutative, so the
    // sketch is partition-order-independent with a fixed seed), queried
    // on the driver, and every estimate is hashed AGAINST ITS CONTRACT —
    // CMS never underestimates and overshoots by at most eps*N here —
    // rather than its engine-specific raw value (the oracle recomputes
    // exact counts and expects the contract bits to hold). ----
    QueryDef("sketch_cms_heavy_hitters",
      (s, d) => {
        import org.apache.spark.util.sketch.CountMinSketch
        val ev = Tables.events(s, d)
        val bytes = ev.agg(
          expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").as("sk"))
          .head().getAs[Array[Byte]](0)
        val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
        val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
        val n = ev.count()
        val est = exact.collect().map { r =>
          (r.getAs[String]("event_type"), cms.estimateCount(r.getAs[String]("event_type")))
        }.toMap
        val estCol = est.foldLeft(lit(-1L)) { case (acc, (t, e)) =>
          when(col("event_type") === t, lit(e)).otherwise(acc)
        }
        exact
          .withColumn("cms_n", estCol)
          .select(col("event_type"), col("exact_n"),
            (col("cms_n") >= col("exact_n") &&
              col("cms_n") <= col("exact_n") + lit((0.001 * n).toLong + 1))
              .as("within_eps"))
          .orderBy(col("event_type"))
      },
      oracle = Some(
        """SELECT event_type, count(*) AS exact_n, true AS within_eps
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      bench = false),

    // ---- Last-touch marketing attribution: each purchase is credited to
    //      the user's most recent preceding non-purchase event. ONE window
    //      pass per user (last IGNORE NULLS over a preceding-rows frame —
    //      the same partitioning the sessionize family uses), then a tiny
    //      grouped rollup per channel. Purchases with no prior touch fall
    //      into a 'none' channel rather than dropping. ----
    QueryDef("events_attribution",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .withColumn("channel",
            last(when(col("event_type") =!= "purchase", col("event_type")),
              ignoreNulls = true).over(w))
          .where(col("event_type") === "purchase")
          .select(coalesce(col("channel"), lit("none")).as("channel"), col("value"))
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            Det.fixedSum(col("value"), 2).as("attributed_value"))
          .orderBy(col("channel"))
      },
      oracle = Some(
        s"""WITH touched AS (
           |  SELECT event_type, value,
           |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
           |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
           |  FROM events
           |)
           |SELECT COALESCE(channel, 'none') AS channel,
           |  COUNT(*) AS n_purchases,
           |  ${Det.fixedSumSql("value", 2)} AS attributed_value
           |FROM touched WHERE event_type = 'purchase'
           |GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = false),

    // ---- Z-score outlier profiling per event type: mean and population
    //      sd from EXACT integerized sums (Det fixed-point — bit-identical
    //      across engines and partitionings), then a second conditional
    //      count of |x - mean| > 3 sd. Both aggregates land in the same
    //      grouped pass shape; the per-row flag is pure IEEE arithmetic on
    //      identical inputs, so the boundary decision is cross-engine
    //      deterministic. Scale 6 on the squares keeps the BIGINT sum far
    //      from overflow at bench SF (see NOTES.md). ----
    QueryDef("stats_zscore_outliers",
      (s, d) => {
        val ev = Tables.events(s, d)
        val stats = ev.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(Det.toFixed(col("value"), 9)).as("s1"),
          sum(Det.toFixed(col("value") * col("value"), 6)).as("s2"))
          .withColumn("mean", col("s1").cast("double") / lit(1e9) / col("n").cast("double"))
          .withColumn("sd", sqrt(
            col("s2").cast("double") / lit(1e6) / col("n").cast("double") -
              col("mean") * col("mean")))
        ev.join(broadcast(stats), Seq("event_type"))
          .groupBy(col("event_type"), col("n"), col("mean"), col("sd"))
          .agg(count(when(abs(col("value") - col("mean")) > lit(3.0) * col("sd"), 1))
            .as("n_outliers"))
          .select(col("event_type"), col("n"),
            Det.fixed(col("mean"), 6).as("mean"), Det.fixed(col("sd"), 6).as("sd"),
            col("n_outliers"))
          .orderBy(col("event_type"))
      },
      oracle = Some {
        val meanSql = "CAST(s1 AS DOUBLE) / 1000000000 / CAST(n AS DOUBLE)"
        s"""WITH stats AS (
           |  SELECT event_type, COUNT(*) AS n,
           |    CAST(SUM(${Det.toFixedSql("value", 9)}) AS BIGINT) AS s1,
           |    CAST(SUM(${Det.toFixedSql("value * value", 6)}) AS BIGINT) AS s2
           |  FROM events GROUP BY event_type
           |), m AS (
           |  SELECT event_type, n, ($meanSql) AS mean,
           |    sqrt(CAST(s2 AS DOUBLE) / 1000000 / CAST(n AS DOUBLE)
           |      - ($meanSql) * ($meanSql)) AS sd
           |  FROM stats
           |)
           |SELECT e.event_type, m.n,
           |  ${Det.fixedSql("m.mean", 6)} AS mean, ${Det.fixedSql("m.sd", 6)} AS sd,
           |  COUNT(CASE WHEN abs(e.value - m.mean) > CAST(3.0 AS DOUBLE) * m.sd
           |    THEN 1 END) AS n_outliers
           |FROM events e JOIN m USING (event_type)
           |GROUP BY e.event_type, m.n, m.mean, m.sd
           |ORDER BY e.event_type""".stripMargin
      },
      bench = false),

    // ---- Markov transition matrix over per-user event sequences: one
    //      lead() window pass (the sessionize partitioning), then a tiny
    //      grouped count and a per-source normalization — a ratio of
    //      exact counts, so probabilities hash bit-identically. The
    //      behavioral-model complement of events_funnel. ----
    QueryDef("events_transition_matrix",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val wf = Window.partitionBy(col("from_type"))
        Tables.events(s, d)
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .where(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            col("n").cast("double") / sum(col("n")).over(wf).cast("double"))
          .orderBy(col("from_type"), col("to_type"))
      },
      oracle = Some(
        """WITH seq AS (
          |  SELECT event_type AS from_type,
          |    lead(event_type, 1) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id) AS to_type
          |  FROM events
          |), cnt AS (
          |  SELECT from_type, to_type, COUNT(*) AS n
          |  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
          |)
          |SELECT from_type, to_type, n,
          |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
          |FROM cnt ORDER BY from_type, to_type""".stripMargin),
      bench = false),

    // ---- exponentially weighted moving average per user (recursive
    //      smoothing — NOT expressible as a plain window frame). The
    //      per-user series is collected, sorted by (ts, event_id) and
    //      folded with `aggregate`; α = 1/8 is a binary-exact literal and
    //      each step is re-integerized at 1e-9 so the fold is
    //      bit-identical across engines and partitionings. State is one
    //      user's events — bounded; the streaming dual is a
    //      transformWithState value-state update. ----
    QueryDef("events_ewma",
      (s, d) => {
        val sorted = array_sort(collect_list(
          struct(col("ts"), col("event_id"), col("value"))))
        Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(transform(sorted, x => x.getField("value")).as("vals"))
          .select(col("user_id"),
            size(col("vals")).cast("long").as("n_events"),
            aggregate(
              slice(col("vals"), lit(2), greatest(size(col("vals")) - 1, lit(0))),
              element_at(col("vals"), 1),
              (acc, x) => Det.fixed(acc * lit(0.875) + x * lit(0.125), 9))
              .as("ewma"))
          .orderBy(col("user_id"))
      },
      oracle = Some(
        raw"""WITH s AS (
             |  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
             |  FROM events GROUP BY user_id
             |)
             |SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
             |  list_reduce(vals, (a, b) ->
             |    ROUND((a * CAST(0.875 AS DOUBLE) + b * CAST(0.125 AS DOUBLE))
             |      * 1000000000, 0) / 1000000000) AS ewma
             |FROM s ORDER BY user_id""".stripMargin),
      bench = false),

    // ---- classical seasonal decomposition (y = trend + seasonal +
    //      residual) on the hourly mean series: trend = centered ±12h
    //      moving average, seasonal = per-hour-of-day mean deviation.
    //      NO global window anywhere: the moving average is the
    //      events_sliding_window explode — each hour bucket map-side
    //      emits its 25 target hours, one shuffle re-aggregates — so the
    //      plan is three groupBys + two joins whatever the row count
    //      (the hour grid itself grows with the calendar span, not the
    //      data volume). Hourly means, the moving average and the
    //      seasonal means are all exact-integer sums of 1e-6-fixed
    //      values (merge-order-free), divisions written identically on
    //      both sides — bit-identical cross-engine. Edge hours average
    //      over the hours actually present in their ±12h band (tk<25),
    //      the standard truncated-window convention. ----
    QueryDef("events_seasonal_decompose",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(Det.fixedAvg(col("value"), 6).as("ymu"))
          .withColumn("yfix", Det.toFixed(col("ymu"), 6))
        val contrib = hourly
          .select(col("h"), col("yfix"),
            explode(sequence(lit(-12), lit(12))).as("kk"))
          .select(expr("timestampadd(HOUR, kk, h)").as("th"), col("yfix"))
        val tr = contrib.groupBy(col("th"))
          .agg(sum(col("yfix")).as("tsum"), count(lit(1)).as("tk"))
        val base = hourly.join(tr, hourly("h") === tr("th"))
          .select(col("h"), col("ymu"),
            ((col("tsum").cast("double") / lit(1e6)) / col("tk")).as("trend"))
        val seas = base
          .groupBy(hour(col("h")).as("hod"))
          .agg((sum(Det.toFixed(col("ymu") - col("trend"), 6)).cast("double")
            / lit(1e6) / count(lit(1))).as("seasonal"))
        base.join(broadcast(seas), hour(col("h")) === seas("hod"))
          .select(col("h"), col("hod"), col("ymu").as("y"), col("trend"),
            col("seasonal"),
            Det.fixed(col("ymu") - col("trend") - col("seasonal"), 6)
              .as("resid"))
          .orderBy(col("h"))
      },
      oracle = Some(
        raw"""WITH hourly AS (
             |  SELECT date_trunc('hour', ts) AS h,
             |    ${Det.fixedAvgSql("value", 6)} AS ymu
             |  FROM events GROUP BY 1
             |),
             |hf AS (SELECT h, ymu, ${Det.toFixedSql("ymu", 6)} AS yfix
             |       FROM hourly),
             |contrib AS (
             |  SELECT h + to_hours(CAST(kk AS BIGINT)) AS th, yfix
             |  FROM hf, (SELECT unnest(generate_series(-12, 12)) AS kk)
             |),
             |tr AS (
             |  SELECT th, CAST(SUM(yfix) AS BIGINT) AS tsum, count(*) AS tk
             |  FROM contrib GROUP BY 1
             |),
             |base AS (
             |  SELECT h, ymu, (CAST(tsum AS DOUBLE) / 1000000) / tk AS trend
             |  FROM hf JOIN tr ON tr.th = hf.h
             |),
             |seas AS (
             |  SELECT CAST(hour(h) AS INTEGER) AS hod,
             |    CAST(SUM(${Det.toFixedSql("ymu - trend", 6)}) AS DOUBLE)
             |      / 1000000 / count(*) AS seasonal
             |  FROM base GROUP BY 1
             |)
             |SELECT b.h AS h, s.hod AS hod, b.ymu AS y, b.trend AS trend,
             |  s.seasonal AS seasonal,
             |  ${Det.fixedSql("b.ymu - b.trend - s.seasonal", 6)} AS resid
             |FROM base b JOIN seas s ON s.hod = CAST(hour(b.h) AS INTEGER)
             |ORDER BY b.h""".stripMargin),
      bench = false)
  )
}
