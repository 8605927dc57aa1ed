package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Curation, RangeCum, Similarity, TextAnalysis}
import graft.util.Det
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Stage.StageOps

/** Corpus-curation queries (training-data pipeline mandate): sequence
  * packing, auditable stratified sampling, PII scrubbing, near-dup
  * cluster resolution, plus small SQL-surface demos (histogram, regex,
  * unpivot, bitwise aggregates). Every query here is DuckDB-oracle
  * hash-checked, including the iterative connected-components operator
  * (oracle = recursive CTE transitive closure).
  */
object CurationQueries {

  /** DuckDB cosine between two list expressions (same accumulation order
    * as the CosineSim kernel). */
  private def cosSqlOf(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** DuckDB SQL for [[Curation.hashU]] (HUGEINT-widened, sign-fixed mod —
    * matches Spark's pmod on the wrapped long product). */
  private def uSql(id: String, seed: Long): String =
    s"CAST(((CAST($id AS HUGEINT) * 2654435761 + $seed) % 4294967296" +
      s" + 4294967296) % 4294967296 AS BIGINT) / 4294967296.0"

  /** Distinct-value grid of click-vs-error counts — the shared first
    * stage of the two-sample statistics (KS, Mann-Whitney, QQ deciles):
    * aggregating to the grid FIRST is what keeps their rank/ECDF windows
    * O(|grid|) instead of O(rows). */
  private def twoSampleGrid(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "error"))
      .groupBy(col("value")).agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("c2"))

  /** Cumulative counts over the [[twoSampleGrid]], scale-safely: the grid
    * of a continuous column grows linearly with the data (events.value is
    * ~18% distinct), so a global `Window.orderBy(value)` would move the
    * whole grid into ONE task at scale. [[RangeCum]] range-partitions on
    * `value` and stitches partition-local cumsums with broadcast prefix
    * offsets instead. */
  private def gridCum(grid: org.apache.spark.sql.DataFrame,
      cums: Seq[RangeCum.Cum]): org.apache.spark.sql.DataFrame =
    RangeCum.withCums(grid, "value", cums)

  /** Shared DuckDB CTE chain for the near-dup cluster oracles
    * (dedup_clusters / dedup_clusters_star / dedup_best_in_cluster):
    * cosine edges over the first 300 vectors, symmetric closure via a
    * recursive CTE, min-label per node. Callers prepend WITH RECURSIVE
    * and chain their own final SELECT. The non-recursive CTEs are
    * MATERIALIZED: DuckDB inlines single-reference CTEs, and an inlined
    * `sym` is re-evaluated on EVERY iteration of the recursive `reach`
    * (see GraphQueries.graphCtes for the measured 100×-slice blowup of
    * the same pattern; here the vec_id<300 cap keeps it small, but the
    * hint makes the oracle's cost independent of iteration count). */
  private lazy val ccOracleCtes: String =
    s"""e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
       |edges AS MATERIALIZED (
       |  SELECT q.vec_id AS a, c.vec_id AS b
       |  FROM e q JOIN e c ON q.vec_id < c.vec_id
       |  WHERE ${Det.fixedSql(cosSqlOf("q.embedding", "c.embedding"), 6)} >= 0.4
       |),
       |sym AS MATERIALIZED (SELECT a AS x, b AS y FROM edges
       |        UNION ALL SELECT b AS x, a AS y FROM edges),
       |reach AS (
       |  SELECT vec_id AS node, vec_id AS lab FROM e
       |  UNION
       |  SELECT s.y AS node, r.lab FROM reach r JOIN sym s ON s.x = r.node
       |),
       |lab AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  /** The DuckDB CTE text matching [[twoSampleGrid]]. */
  private val twoSampleGridSql: String =
    """g AS (
      |  SELECT value,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c2
      |  FROM events WHERE event_type IN ('click', 'error') GROUP BY value
      |)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- exact-k uniform sample: k smallest hash-u (TakeOrdered, no
    // full sort; deterministic across engines/partitionings) ----
    QueryDef("sample_exact_k",
      (s, d) => Curation.exactKSample(Tables.documents(s, d), col("doc_id"),
          k = 50, seed = 3L)
        .select(col("doc_id"), col("lang"), col("u"))
        .orderBy(col("doc_id")),
      oracle = Some(
        s"""SELECT doc_id, lang, u FROM (
           |  SELECT doc_id, lang, ${uSql("doc_id", 3L)} AS u
           |  FROM documents ORDER BY u, doc_id LIMIT 50
           |) ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- weighted sample without replacement (Efraimidis-Spirakis):
    // key u^(1/w) rounded to 9 decimals (pow ulp guard), top-k by key ----
    QueryDef("sample_weighted",
      (s, d) => Curation.weightedSample(Tables.documents(s, d),
          col("doc_id"), col("n_chars"), k = 50, seed = 5L)
        .select(col("doc_id"), col("n_chars"), col("skey"))
        .orderBy(col("doc_id")),
      oracle = Some(
        s"""SELECT doc_id, n_chars, skey FROM (
           |  SELECT doc_id, n_chars,
           |    ${graft.util.Det.fixedSql(
                  s"POW(${uSql("doc_id", 5L)}, CAST(1.0 AS DOUBLE) / CAST(n_chars AS DOUBLE))", 9)} AS skey
           |  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
           |  ORDER BY skey DESC, doc_id LIMIT 50
           |) ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- hash-based train/val/test split assignment (stable under
    // reordering/appends; remainder falls to 'rest') ----
    QueryDef("split_assign", {
      val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05)
      (s: org.apache.spark.sql.SparkSession, d: String) =>
        Curation.assignSplits(Tables.documents(s, d), col("doc_id"),
            splits, seed = 13L)
          .select(col("doc_id"), col("u"), col("split"))
          .orderBy(col("doc_id"))
      },
      oracle = Some {
        val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05)
        val bounds = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
        val cases = splits.zip(bounds).map { case ((name, _), b) =>
          s"WHEN u < CAST($b AS DOUBLE) THEN '$name'"
        }.mkString(" ")
        s"""SELECT doc_id, u, CASE $cases ELSE 'rest' END AS split FROM (
           |  SELECT doc_id, ${uSql("doc_id", 13L)} AS u FROM documents
           |) ORDER BY doc_id""".stripMargin
      },
      bench = false),

    // ---- leakage-free split: exact-dup groups (md5 content
    //      fingerprint) assigned as ONE unit — no duplicate pair ever
    //      straddles train/test (the contamination split_assign alone
    //      cannot rule out). Split key = min doc_id per fingerprint,
    //      via a group-partitioned window; same hash-boundary rule as
    //      split_assign. ----
    QueryDef("split_cluster_safe", {
      val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05)
      (s: org.apache.spark.sql.SparkSession, d: String) =>
        Curation.clusterSafeSplits(
            Tables.documents(s, d).select(col("doc_id"), md5(col("text")).as("fp")),
            col("doc_id"), col("fp"), splits, seed = 13L)
          .select(col("doc_id"), col("cluster_id"), col("u"), col("split"))
          .orderBy(col("doc_id"))
      },
      oracle = Some {
        val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05)
        val bounds = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
        val cases = splits.zip(bounds).map { case ((name, _), b) =>
          s"WHEN u < CAST($b AS DOUBLE) THEN '$name'"
        }.mkString(" ")
        s"""SELECT doc_id, cluster_id, u,
           |  CASE $cases ELSE 'rest' END AS split FROM (
           |  SELECT doc_id, cluster_id, ${uSql("cluster_id", 13L)} AS u FROM (
           |    SELECT doc_id,
           |      min(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id
           |    FROM documents
           |  )
           |) ORDER BY doc_id""".stripMargin
      },
      bench = false),

    // ---- deterministic training-order shuffle: the reproducible global
    //      permutation a training run reads — shard by one hash, order
    //      within the shard by a second, so any worker regenerates its
    //      shard's exact sequence from (seed, nShards) alone and a rerun
    //      is bit-identical (per-partition RNG shuffles are neither).
    //      The PRODUCING shuffle is the per-SHARD window (shards are
    //      the parallel unit, ~corpus/nShards rows each) — sized by the
    //      nShards parameter, which a scale run raises so each shard's
    //      window fits one task. The trailing orderBy(shard_id, pos) IS
    //      a global sort, but it is presentation-only for the driver's
    //      oracle hash (a training run reads shards independently and
    //      would drop it — the permutation is fully defined by
    //      (shard_id, pos) without any global order). ----
    QueryDef("curation_training_order",
      (s, d) => {
        // the scale knob: shards = parallel read units; the catalog row
        // defaults 8 so the oracle reproduces, a 100 TB run sets the
        // conf to ~10^5 (same permutation family, different fan-out)
        val nShards =
          s.conf.get("spark.graft.trainingOrderShards", "8").toInt
        val w = Window.partitionBy(col("shard_id"))
          .orderBy(col("u2"), col("doc_id"))
        Tables.documents(s, d).select(col("doc_id"))
          .withColumn("shard_id",
            floor(Curation.hashU(col("doc_id"), 17L) * nShards).cast("int"))
          .withColumn("u2", Curation.hashU(col("doc_id"), 23L))
          .withColumn("pos", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("shard_id"), col("pos"))
          .orderBy(col("shard_id"), col("pos"))
      },
      oracle = Some(
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(floor((${uSql("doc_id", 17L)}) * 8) AS INT) AS shard_id,
           |    ${uSql("doc_id", 23L)} AS u2
           |  FROM documents
           |)
           |SELECT doc_id, shard_id,
           |  row_number() OVER (PARTITION BY shard_id ORDER BY u2, doc_id) AS pos
           |FROM t ORDER BY shard_id, pos""".stripMargin),
      bench = false),

    // ---- sequence packing: fixed-token-budget packs per lang shard ----
    QueryDef("pack_sequences",
      (s, d) => Curation.packSequences(
        Tables.documents(s, d),
        tokenCol = size(TextAnalysis.tokens(col("text"))),
        shardCol = col("lang"), orderCol = col("doc_id"), budget = 2048)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("pack_id"), col("offset_in_pack"))
        .orderBy(col("doc_id")),
      oracle = Some(
        raw"""WITH t AS (
             |  SELECT doc_id, lang,
             |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
             |  FROM documents
             |), c AS (
             |  SELECT doc_id, lang, n_tokens,
             |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
             |  FROM t
             |)
             |SELECT doc_id, lang, n_tokens,
             |  CAST(floor(cum_before / 2048) AS BIGINT) AS pack_id,
             |  CAST(cum_before % 2048 AS BIGINT) AS offset_in_pack
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- stratified sampling: per-lang rates, reproducible hash u ----
    QueryDef("sample_stratified",
      (s, d) => Curation.stratifiedSample(
        Tables.documents(s, d), col("doc_id"), col("lang"),
        rates = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25,
          "es" -> 0.1, "zh" -> 0.1),
        seed = 7L)
        .select(col("doc_id"), col("lang"), col("u"))
        .orderBy(col("doc_id")),
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id, lang,
          |    -- HUGEINT widening + sign-fixed mod == Spark's pmod on the
          |    -- wrapped long product (2^32 | 2^64), overflow-safe for any id
          |    CAST(((CAST(doc_id AS HUGEINT) * 2654435761 + 7) % 4294967296
          |      + 4294967296) % 4294967296 AS BIGINT) / 4294967296.0 AS u
          |  FROM documents
          |)
          |SELECT doc_id, lang, u FROM s
          |WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
          |  WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.1 WHEN 'zh' THEN 0.1
          |  ELSE 0.0 END
          |ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- domain-mixture resampling: reshape corpus toward target domain
    // shares (training-data mixing). src5's rate saturates at 1.0 (least
    // branch); sources outside the share map drop out. ----
    QueryDef("sample_mixture",
      (s, d) => Curation.mixtureSample(
        Tables.documents(s, d), col("doc_id"), col("source"),
        targetShares = Map("src0" -> 0.3, "src1" -> 0.25, "src2" -> 0.2,
          "src3" -> 0.15, "src4" -> 0.1, "src5" -> 0.6),
        totalFraction = 0.1, seed = 11L)
        .select(col("doc_id"), col("source"), col("n_dom"), col("rate"), col("u"))
        .orderBy(col("doc_id")),
      oracle = Some(
        """WITH counts AS (
          |  SELECT source AS dom, count(*) AS n_dom FROM documents GROUP BY 1
          |), tot AS (
          |  SELECT CAST(sum(n_dom) AS BIGINT) AS n_total FROM counts
          |), rates AS (
          |  -- every literal cast to DOUBLE: DuckDB otherwise folds the
          |  -- DECIMAL product 0.3*0.1 exactly, while Spark multiplies
          |  -- binary doubles -- a 1-ulp rate difference the hash rejects
          |  SELECT dom, n_dom,
          |    least(CAST(1.0 AS DOUBLE),
          |      CASE dom WHEN 'src0' THEN CAST(0.3 AS DOUBLE)
          |        WHEN 'src1' THEN CAST(0.25 AS DOUBLE)
          |        WHEN 'src2' THEN CAST(0.2 AS DOUBLE)
          |        WHEN 'src3' THEN CAST(0.15 AS DOUBLE)
          |        WHEN 'src4' THEN CAST(0.1 AS DOUBLE)
          |        WHEN 'src5' THEN CAST(0.6 AS DOUBLE)
          |        ELSE CAST(0.0 AS DOUBLE) END
          |      * CAST(0.1 AS DOUBLE)
          |      * CAST(n_total AS DOUBLE) / CAST(n_dom AS DOUBLE)) AS rate
          |  FROM counts CROSS JOIN tot
          |)
          |SELECT d.doc_id, d.source, r.n_dom, r.rate,
          |  CAST(((CAST(d.doc_id AS HUGEINT) * 2654435761 + 11) % 4294967296
          |    + 4294967296) % 4294967296 AS BIGINT) / 4294967296.0 AS u
          |FROM documents d JOIN rates r ON d.source = r.dom
          |WHERE CAST(((CAST(d.doc_id AS HUGEINT) * 2654435761 + 11) % 4294967296
          |    + 4294967296) % 4294967296 AS BIGINT) / 4294967296.0 < r.rate
          |ORDER BY d.doc_id""".stripMargin),
      bench = false),

    // ---- TOKEN-weighted domain mixture: the mix is specified in token
    //      mass (n_chars as the token proxy), not document count — the
    //      form real training mixes use; rates derive from per-domain
    //      token sums, selection stays the per-doc hash predicate, so
    //      expected kept TOKEN mass per domain hits the target share. ----
    QueryDef("sample_mixture_tokens",
      (s, d) => Curation.mixtureSampleWeighted(
        Tables.documents(s, d), col("doc_id"), col("source"), col("n_chars"),
        targetShares = Map("src0" -> 0.3, "src1" -> 0.25, "src2" -> 0.2,
          "src3" -> 0.15, "src4" -> 0.1, "src5" -> 0.6),
        totalFraction = 0.1, seed = 11L)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("w_dom"), col("rate"), col("u"))
        .orderBy(col("doc_id")),
      oracle = Some(
        s"""WITH weights AS (
           |  SELECT source AS dom, CAST(sum(n_chars) AS BIGINT) AS w_dom
           |  FROM documents GROUP BY 1
           |), tot AS (
           |  SELECT CAST(sum(w_dom) AS BIGINT) AS w_total FROM weights
           |), rates AS (
           |  -- literals cast to DOUBLE (the sample_mixture DECIMAL-folding
           |  -- lesson: DuckDB folds 0.3*0.1 exactly, Spark multiplies
           |  -- binary doubles)
           |  SELECT dom, w_dom,
           |    least(CAST(1.0 AS DOUBLE),
           |      CASE dom WHEN 'src0' THEN CAST(0.3 AS DOUBLE)
           |        WHEN 'src1' THEN CAST(0.25 AS DOUBLE)
           |        WHEN 'src2' THEN CAST(0.2 AS DOUBLE)
           |        WHEN 'src3' THEN CAST(0.15 AS DOUBLE)
           |        WHEN 'src4' THEN CAST(0.1 AS DOUBLE)
           |        WHEN 'src5' THEN CAST(0.6 AS DOUBLE)
           |        ELSE CAST(0.0 AS DOUBLE) END
           |      * CAST(0.1 AS DOUBLE)
           |      * CAST(w_total AS DOUBLE) / CAST(w_dom AS DOUBLE)) AS rate
           |  FROM weights CROSS JOIN tot
           |)
           |SELECT d.doc_id, d.source, d.n_chars, r.w_dom, r.rate,
           |  ${uSql("d.doc_id", 11L)} AS u
           |FROM documents d JOIN rates r ON d.source = r.dom
           |WHERE ${uSql("d.doc_id", 11L)} < r.rate
           |ORDER BY d.doc_id""".stripMargin),
      bench = false),

    // ---- hashed-linear-model quality scoring (fasttext-filter shape):
    // md5 60-bit feature hash, arithmetic weight lookup, integer weight
    // sums (order-free => oracle-exact score). ----
    QueryDef("quality_classifier",
      (s, d) => Curation.qualityClassifierScore(
        Tables.documents(s, d), "doc_id", "text", dim = 2001)
        .orderBy(col("doc_id")),
      oracle = Some(
        raw"""WITH tok AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents
             |), w AS (
             |  SELECT doc_id,
             |    (('0x' || substring(md5(tok), 1, 15))::BIGINT % 2001) - 1000 AS w
             |  FROM tok
             |), s AS (
             |  SELECT doc_id, count(*) AS n_tokens,
             |    CAST(sum(w) AS BIGINT) AS w_sum
             |  FROM w GROUP BY 1
             |)
             |SELECT d.doc_id,
             |  coalesce(s.n_tokens, 0) AS n_tokens,
             |  coalesce(s.w_sum, 0) AS w_sum,
             |  coalesce(CAST(s.w_sum AS DOUBLE) / (1000.0 * CAST(s.n_tokens AS DOUBLE)),
             |    0.0) AS score,
             |  coalesce(CAST(s.w_sum AS DOUBLE) / (1000.0 * CAST(s.n_tokens AS DOUBLE)),
             |    0.0) > 0 AS keep
             |FROM documents d LEFT JOIN s USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
      bench = false),

    // ---- k-anonymity audit (the re-identification risk check before a
    //      dataset release): group the table by its quasi-identifier
    //      tuple — nation × market segment × account-balance band — and
    //      report the corpus k (smallest group), the groups and rows
    //      below the k=10 release threshold, and the at-risk share. ONE
    //      groupBy at quasi-identifier cardinality + a 1-row reduce;
    //      counts exact ints, share a pure IEEE ratio. ----
    QueryDef("privacy_k_anonymity",
      (s, d) => {
        val qi = Tables.customer(s, d).groupBy(
          col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / lit(1000.0)).cast("long").as("bal_band"))
          .agg(count(lit(1)).as("n"))
        qi.agg(
          min(col("n")).as("k_anonymity"),
          count(lit(1)).as("n_groups"),
          sum(col("n")).as("n_rows"),
          count(when(col("n") < 10, lit(1))).as("groups_below_k"),
          coalesce(sum(when(col("n") < 10, col("n"))), lit(0L))
            .as("rows_at_risk"))
          .withColumn("risk_share",
            col("rows_at_risk").cast("double") / col("n_rows").cast("double"))
      },
      oracle = Some(
        """WITH qi AS (
          |  SELECT c_nationkey, c_mktsegment,
          |    CAST(FLOOR(c_acctbal / CAST(1000.0 AS DOUBLE)) AS BIGINT) AS bal_band,
          |    COUNT(*) AS n
          |  FROM customer GROUP BY 1, 2, 3
          |)
          |SELECT CAST(MIN(n) AS BIGINT) AS k_anonymity,
          |  COUNT(*) AS n_groups,
          |  CAST(SUM(n) AS BIGINT) AS n_rows,
          |  COUNT(CASE WHEN n < 10 THEN 1 END) AS groups_below_k,
          |  COALESCE(CAST(SUM(CASE WHEN n < 10 THEN n END) AS BIGINT),
          |    CAST(0 AS BIGINT)) AS rows_at_risk,
          |  CAST(COALESCE(CAST(SUM(CASE WHEN n < 10 THEN n END) AS BIGINT),
          |    CAST(0 AS BIGINT)) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS risk_share
          |FROM qi""".stripMargin),
      bench = false),

    // ---- active-learning batch selection: the 25 documents CLOSEST to
    //      the quality classifier's decision boundary (smallest |score|;
    //      uncertainty/margin sampling — the label-these-next batch).
    //      score is an IEEE ratio of exact integers (classifier contract
    //      above), so |score| ordering is bit-identical cross-engine;
    //      the cut is a distributed TakeOrdered, never a global sort. ----
    QueryDef("sample_uncertainty",
      (s, d) => Curation.qualityClassifierScore(
          Tables.documents(s, d), "doc_id", "text", dim = 2001)
        .select(col("doc_id"), col("n_tokens"), col("score"),
          abs(col("score")).as("margin"))
        .orderBy(col("margin"), col("doc_id")).limit(25),
      oracle = Some(
        raw"""WITH tok AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents
             |), w AS (
             |  SELECT doc_id,
             |    (('0x' || substring(md5(tok), 1, 15))::BIGINT % 2001) - 1000 AS w
             |  FROM tok
             |), s AS (
             |  SELECT doc_id, count(*) AS n_tokens,
             |    CAST(sum(w) AS BIGINT) AS w_sum
             |  FROM w GROUP BY 1
             |), scored AS (
             |  SELECT d.doc_id,
             |    coalesce(s.n_tokens, 0) AS n_tokens,
             |    coalesce(CAST(s.w_sum AS DOUBLE) / (1000.0 * CAST(s.n_tokens AS DOUBLE)),
             |      0.0) AS score
             |  FROM documents d LEFT JOIN s USING (doc_id)
             |)
             |SELECT doc_id, n_tokens, score, abs(score) AS margin
             |FROM scored ORDER BY margin, doc_id LIMIT 25""".stripMargin),
      bench = false),

    // ---- PII scrubbing. The fixture corpus carries no PII, so each doc
    // is augmented with deterministic synthetic contact info derived from
    // its id; the scrub chain (URL -> email -> phone) and the pre-scrub
    // counts are the operator under test. ----
    QueryDef("scrub_pii",
      (s, d) => {
        val aug = concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1 "),
          lpad((col("doc_id") % 900 + 100).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" at https://ex.example/d/"), col("doc_id"))
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            Curation.scrubPii(aug).as("scrubbed"),
            regexp_count(aug, lit(Curation.emailRe)).as("n_emails"),
            regexp_count(aug, lit(Curation.urlRe)).as("n_urls"),
            regexp_count(aug, lit(Curation.phoneRe)).as("n_phones"))
          .orderBy(col("doc_id"))
      },
      oracle = Some {
        val aug = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
          "'@mail.example.com or +1 ' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-' || " +
          "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at https://ex.example/d/' || CAST(doc_id AS VARCHAR)"
        raw"""WITH a AS (SELECT doc_id, $aug AS t FROM documents)
             |SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(t,
             |    'https?://[^\s]+', '<URL>', 'g'),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+?[0-9]{1,2} [0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed,
             |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             |  len(regexp_extract_all(t, 'https?://[^\s]+')) AS n_urls,
             |  len(regexp_extract_all(t, '\+?[0-9]{1,2} [0-9]{3}-[0-9]{4}')) AS n_phones
             |FROM a ORDER BY doc_id""".stripMargin
      },
      bench = false),

    // ---- near-dup cluster resolution: connected components over the
    // exact embedding near-dup pairs (vec_id < 300, cos >= 0.4). The
    // Spark side is the iterative min-label-propagation loop; the oracle
    // is a recursive-CTE transitive closure — same fixpoint. ----
    QueryDef("dedup_clusters",
      (s, d) => {
        val corpus = Tables.embeddings(s, d).where(col("vec_id") < 300)
        val edges = Similarity.bruteForceNearDupPairs(corpus, threshold = 0.4)
          .select(col("a"), col("b"))
        val nodes = corpus.select(col("vec_id").as("node"))
        Curation.connectedComponents(edges, nodes)
          .withColumn("cluster_size",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("cluster_id"))))
          .withColumn("is_representative", col("node") === col("cluster_id"))
          .select(col("node").as("vec_id"), col("cluster_id"),
            col("cluster_size"), col("is_representative"))
          .orderBy(col("vec_id"))
      },
      oracle = Some(
        s"""WITH RECURSIVE
           |$ccOracleCtes
           |SELECT node AS vec_id, cluster_id,
           |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           |  node = cluster_id AS is_representative
           |FROM lab ORDER BY vec_id""".stripMargin)),

    // ---- INCREMENTAL cluster maintenance: the near-dup edge set is
    //      deterministically split 80/20 into an "existing" graph and a
    //      "new snapshot" delta; the existing graph is clustered batch,
    //      then the delta folds in via the quotient-graph incremental
    //      path (cost ∝ delta). The oracle is the FULL-graph transitive
    //      closure — hash-equality proves incremental ≡ batch. ----
    QueryDef("dedup_clusters_incremental",
      (s, d) => {
        val corpus = Tables.embeddings(s, d).where(col("vec_id") < 300)
        // edge set feeds both split sides — shared (one O(n²·d) pass)
        val edges = Similarity.bruteForceNearDupPairs(corpus, threshold = 0.4)
          .select(col("a"), col("b"))
          .stageShare()
        val split = pmod(xxhash64(col("a"), col("b")), lit(5))
        val nodes = corpus.select(col("vec_id").as("node"))
        val base = Curation.connectedComponentsStar(
          edges.where(split =!= 0), nodes)
        Curation.incrementalConnectedComponents(base, edges.where(split === 0))
          .select(col("node").as("vec_id"), col("cluster_id"))
          .orderBy(col("vec_id"))
      },
      oracle = Some(
        s"""WITH RECURSIVE
           |$ccOracleCtes
           |SELECT node AS vec_id, cluster_id FROM lab
           |ORDER BY vec_id""".stripMargin),
      bench = false),

    // ---- per-group exact-k sampling: the k smallest hash-u PER LANG
    //      (the grouped sibling of sample_exact_k). Plan shape is
    //      WindowGroupLimit: each map task keeps ≤ k rows per group
    //      BEFORE the shuffle, so the exchange carries ≤ k·|groups| rows
    //      per partition regardless of corpus size — the distributed
    //      replacement for per-group reservoir sampling, deterministic
    //      and append-auditable like every sampler here. ----
    QueryDef("sample_group_exact_k", {
      val seed = 7L
      (s: org.apache.spark.sql.SparkSession, d: String) =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            Curation.hashU(col("doc_id"), seed).as("u"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("lang")).orderBy(col("u"), col("doc_id"))))
          // filter on the RAW row_number (the tfidf pattern), cast after:
          // the WindowGroupLimit rewrite keys on the rank predicate, and
          // a cast in between would leave it to UnwrapCastInBinary-
          // Comparison to rescue (plan-asserted in CurationSpec)
          .where(col("rn") <= 10)
          .select(col("lang"), col("rn").cast("long").as("rn"),
            col("doc_id"), col("u"))
          .orderBy(col("lang"), col("rn"))
      },
      oracle = Some(
        s"""SELECT lang, rn, doc_id, u FROM (
           |  SELECT lang, doc_id, ${uSql("doc_id", 7L)} AS u,
           |    CAST(row_number() OVER (PARTITION BY lang
           |      ORDER BY ${uSql("doc_id", 7L)}, doc_id) AS BIGINT) AS rn
           |  FROM documents
           |) WHERE rn <= 10 ORDER BY lang, rn""".stripMargin),
      bench = false),

    // ---- same clustering through the O(log n)-round large-star/small-
    //      star alternation (Kiveris et al.) — the variant that survives
    //      large-diameter near-dup chains, where min-label propagation
    //      needs O(diameter) sequential Spark jobs. Same recursive-CTE
    //      oracle: both must produce identical components. ----
    QueryDef("dedup_clusters_star",
      (s, d) => {
        val corpus = Tables.embeddings(s, d).where(col("vec_id") < 300)
        val edges = Similarity.bruteForceNearDupPairs(corpus, threshold = 0.4)
          .select(col("a"), col("b"))
        val nodes = corpus.select(col("vec_id").as("node"))
        Curation.connectedComponentsStar(edges, nodes)
          .withColumn("cluster_size",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("cluster_id"))))
          .withColumn("is_representative", col("node") === col("cluster_id"))
          .select(col("node").as("vec_id"), col("cluster_id"),
            col("cluster_size"), col("is_representative"))
          .orderBy(col("vec_id"))
      },
      oracle = Some(
        s"""WITH RECURSIVE
           |$ccOracleCtes
           |SELECT node AS vec_id, cluster_id,
           |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           |  node = cluster_id AS is_representative
           |FROM lab ORDER BY vec_id""".stripMargin)),

    // ---- cluster resolution with a QUALITY tie-break: keep the
    //      highest-quality member of each near-dup cluster (quality =
    //      embedding L2 norm here; any per-doc score slots in), min-id
    //      on ties — what a curation pipeline actually wants, vs the
    //      arbitrary min-id representative. Argmax via the struct-max
    //      aggregate (one grouped agg over the labeled nodes — no
    //      per-cluster window over the corpus); quality rounded to a
    //      fixed grid so the pick is engine-exact. ----
    QueryDef("dedup_best_in_cluster",
      (s, d) => {
        val corpus = Tables.embeddings(s, d).where(col("vec_id") < 300)
        val edges = Similarity.bruteForceNearDupPairs(corpus, threshold = 0.4)
          .select(col("a"), col("b"))
        val nodes = corpus.select(col("vec_id").as("node"))
        val cc = Curation.connectedComponentsStar(edges, nodes)
        val q = corpus.select(col("vec_id").as("node"),
          Det.fixed(graft.functions.VectorExpressions.l2Norm(col("embedding")), 6)
            .as("quality"))
        Curation.bestInCluster(cc.join(q, Seq("node")), "quality")
          .select(col("node").as("vec_id"), col("cluster_id"), col("quality"),
            col("keep_id"), col("kept"))
          .orderBy(col("vec_id"))
      },
      oracle = Some(
        s"""WITH RECURSIVE
           |$ccOracleCtes,
           |q AS (
           |  SELECT vec_id AS node, ${Det.fixedSql(
                "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))", 6)} AS quality
           |  FROM e
           |),
           |j AS (SELECT lab.node, lab.cluster_id, q.quality
           |      FROM lab JOIN q ON lab.node = q.node),
           |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
           |        ORDER BY quality DESC, node) AS rk FROM j),
           |reps AS (SELECT cluster_id, node AS keep_id FROM r WHERE rk = 1)
           |SELECT j.node AS vec_id, j.cluster_id, j.quality, reps.keep_id,
           |  j.node = reps.keep_id AS kept
           |FROM j JOIN reps ON j.cluster_id = reps.cluster_id
           |ORDER BY vec_id""".stripMargin),
      bench = false),

    // ---- data-quality profiling (Deequ-style audit): per-column nulls,
    // exact distinct counts, completeness, uniqueness — ONE scan via the
    // multi-distinct Expand plan. A derived NULLIF column exercises the
    // null/completeness path on the null-free fixture. ----
    // ---- join-key skew audit (the pre-flight check before any big
    //      equi-join or groupBy at 100 TB): per-key counts → the top-10
    //      heaviest keys with their share of all rows and skew factor
    //      (count ÷ mean-count), plus the salting factor ⌈skew⌉ a
    //      salted-join rewrite would use (`Skew.saltedEquiJoin`). One
    //      shuffle on the key; the summary side is a 2-value broadcast.
    //      Counts are exact ints; share/skew are IEEE ratios of exact
    //      ints — bit-identical cross-engine. ----
    QueryDef.sql("profile_key_skew",
      """WITH counts AS (
        |  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
        |), tot AS (
        |  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows
        |  FROM counts
        |)
        |SELECT /*+ BROADCAST(tot) */ user_id, cnt,
        |  CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share,
        |  CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE) AS skew_factor,
        |  CAST(CEIL(CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE)) AS BIGINT) AS salt_factor
        |FROM counts CROSS JOIN tot
        |ORDER BY cnt DESC NULLS LAST, user_id NULLS FIRST LIMIT 10""".stripMargin,
      bench = false),

    QueryDef("profile_columns",
      (s, d) => graft.operators.Profile.profile(
        Tables.documents(s, d)
          .withColumn("lang_non_en", nullif(col("lang"), lit("en"))),
        Seq("doc_id", "lang", "source", "lang_non_en"))
        .orderBy(col("column_name")),
      oracle = Some {
        // CAST(sum(...) AS BIGINT): DuckDB promotes SUM(int) to HUGEINT,
        // which the driver's hash treats as a different value repr
        def row(c: String) =
          s"""SELECT '$c' AS column_name, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(count(*) - CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE) AS completeness,
             |  count(DISTINCT $c) = count(*)
             |    - CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS is_unique
             |FROM t""".stripMargin
        s"""WITH t AS (
           |  SELECT doc_id, lang, source, nullif(lang, 'en') AS lang_non_en
           |  FROM documents
           |)
           |${Seq("doc_id", "lang", "source", "lang_non_en").map(row)
                .mkString("\nUNION ALL ")}
           |ORDER BY column_name""".stripMargin
      },
      bench = false),

    // ---- EXACT token-weighted length quantiles: the smallest n_chars
    //      bounding q of the corpus's TOKENS (not rows) — the "how long
    //      are the documents most tokens live in" curation question
    //      that row-weighted sketched approx_percentile cannot answer.
    //      Distinct-value grid + RangeCum prefix (no unpartitioned
    //      window), integer cumulative weights, DOUBLE q literals on
    //      both engines so the q·total threshold is bit-identical. ----
    QueryDef("profile_weighted_quantiles",
      (s, d) => graft.operators.Profile.weightedQuantiles(
        Tables.documents(s, d)
          .select(col("n_chars"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("wt")),
        "n_chars", "wt", qs = Seq(0.25, 0.5, 0.9, 0.99)),
      oracle = Some(
        """WITH t AS (
          |  SELECT n_chars AS value,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS wt
          |  FROM documents
          |),
          |grid AS (SELECT value, CAST(sum(wt) AS BIGINT) AS w
          |         FROM t GROUP BY 1),
          |c AS (SELECT value, CAST(sum(w) OVER (ORDER BY value
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |        AS BIGINT) AS cw
          |      FROM grid),
          |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM grid),
          |qs(q) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
          |                 (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))),
          |pick AS (
          |  SELECT q, min(value) AS value
          |  FROM c CROSS JOIN tot CROSS JOIN qs
          |  WHERE CAST(cw AS DOUBLE) >= q * CAST(tw AS DOUBLE)
          |  GROUP BY q)
          |SELECT p.q, p.value, c.cw AS cum_weight, tot.tw AS total_weight
          |FROM pick p JOIN c ON p.value = c.value CROSS JOIN tot
          |ORDER BY p.q""".stripMargin)),

    // ---- per-LANGUAGE token-weighted length quantiles: the grouped
    //      sibling of profile_weighted_quantiles. The cumulative is a
    //      lang-PARTITIONED window over the per-lang distinct-value
    //      grid; totals broadcast; same type-1 rule per group. ----
    QueryDef("profile_weighted_quantiles_by_lang",
      (s, d) => graft.operators.Profile.weightedQuantilesByGroup(
        Tables.documents(s, d)
          .select(col("lang"), col("n_chars"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("wt")),
        "lang", "n_chars", "wt", qs = Seq(0.5, 0.9)),
      oracle = Some(
        """WITH t AS (
          |  SELECT lang, n_chars AS value,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS wt
          |  FROM documents
          |),
          |grid AS (SELECT lang, value, CAST(sum(wt) AS BIGINT) AS w
          |         FROM t GROUP BY 1, 2),
          |c AS (SELECT lang, value, CAST(sum(w) OVER (PARTITION BY lang
          |        ORDER BY value
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |        AS BIGINT) AS cw
          |      FROM grid),
          |tot AS (SELECT lang, CAST(sum(w) AS BIGINT) AS tw
          |        FROM grid GROUP BY 1),
          |qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE))),
          |pick AS (
          |  SELECT c.lang, q, min(value) AS value
          |  FROM c JOIN tot ON c.lang = tot.lang CROSS JOIN qs
          |  WHERE CAST(cw AS DOUBLE) >= q * CAST(tw AS DOUBLE)
          |  GROUP BY 1, 2)
          |SELECT p.lang, p.q, p.value, c.cw AS cum_weight,
          |  tot.tw AS total_weight
          |FROM pick p
          |JOIN c ON p.lang = c.lang AND p.value = c.value
          |JOIN tot ON p.lang = tot.lang
          |ORDER BY p.lang, p.q""".stripMargin)),

    // ---- token-count histogram (bucket width 20) ----
    QueryDef("tokens_hist",
      (s, d) => Tables.documents(s, d)
        .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("bucket", floor(col("n_tokens") / lit(20)).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy(col("bucket")),
      oracle = Some(
        raw"""WITH t AS (
             |  SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
             |  FROM documents
             |)
             |SELECT CAST(floor(n_tokens / 20) AS BIGINT) AS bucket,
             |  count(*) AS n_docs, min(n_tokens) AS min_tokens,
             |  max(n_tokens) AS max_tokens
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = false),

    // ---- regex surface: extract / count / match ----
    QueryDef("regex_funcs",
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "([A-Z][a-z]+)", 1).as("first_cap"),
          regexp_count(col("text"), lit("[0-9]+")).as("n_numbers"),
          col("text").rlike("\\bthe\\b").as("has_the"))
        .orderBy(col("doc_id")),
      oracle = Some(
        raw"""SELECT doc_id,
             |  regexp_extract(text, '([A-Z][a-z]+)', 1) AS first_cap,
             |  len(regexp_extract_all(text, '[0-9]+')) AS n_numbers,
             |  regexp_matches(text, '\bthe\b') AS has_the
             |FROM documents ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- unpivot / melt (Dataset.unpivot; oracle = UNION ALL form) ----
    // Kept as a DataFrame: one Expand over one scan, where the text plans a Union of four scans.
    QueryDef("unpivot_stack",
      (s, d) => Tables.lineitem(s, d)
        .where(col("l_orderkey") < 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure")),
      oracle = Some(
        """SELECT l_orderkey, l_linenumber, measure, value FROM (
          |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
          |    FROM lineitem WHERE l_orderkey < 100
          |  UNION ALL
          |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
          |    FROM lineitem WHERE l_orderkey < 100
          |  UNION ALL
          |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
          |    FROM lineitem WHERE l_orderkey < 100
          |  UNION ALL
          |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
          |    FROM lineitem WHERE l_orderkey < 100
          |)
          |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin),
      bench = false),

    // ---- snapshot upsert (MERGE without a transactional format):
    // synthetic updates = every 10th order repriced + 50 brand-new keys;
    // output restricted to the touched keys ----
    QueryDef("upsert_snapshot",
      (s, d) => {
        val base = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val updates = base.where(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
          .unionByName(base.where(col("o_orderkey") < 50)
            .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
        graft.operators.Snapshot.upsert(base, updates, Seq("o_orderkey"))
          .where(col("o_orderkey") % 10 === 0 || col("o_orderkey") >= 10000000L)
          .orderBy(col("o_orderkey"))
      },
      oracle = Some(
        """WITH base AS (
          |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |), updates AS (
          |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice
          |  FROM base WHERE o_orderkey % 10 = 0
          |  UNION ALL
          |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
          |  FROM base WHERE o_orderkey < 50
          |), merged AS (
          |  SELECT * FROM base
          |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
          |  UNION ALL
          |  SELECT * FROM updates
          |)
          |SELECT o_orderkey, o_custkey, o_totalprice FROM merged
          |WHERE o_orderkey % 10 = 0 OR o_orderkey >= 10000000
          |ORDER BY o_orderkey""".stripMargin),
      bench = false),

    // ---- snapshot DIFF audit (what changed between version t and t+1):
    //      Snapshot.diff full-outer joins the two versions on the key and
    //      classifies every row added/removed/changed/unchanged with the
    //      changed column names; summarized here to per-status counts.
    //      The "next" version is derived deterministically in-query
    //      (10% deletes, price bumps on key%7, status flips on key%13,
    //      new arrivals from key%17) so both engines diff identical
    //      snapshots. ----
    QueryDef("snapshot_diff",
      (s, d) => {
        val base = Tables.orders(s, d)
        val next = base
          .filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
          .withColumn("o_totalprice",
            when(pmod(col("o_orderkey"), lit(7)) === 0, col("o_totalprice") + 100.0)
              .otherwise(col("o_totalprice")))
          .withColumn("o_orderstatus",
            when(pmod(col("o_orderkey"), lit(13)) === 0, lit("X"))
              .otherwise(col("o_orderstatus")))
          // new-arrival keys offset by the ACTUAL max key + 1 — a fixed
          // constant collides with genuine keys once the table outgrows
          // it, silently fanning out the full-outer join
          .unionByName(base.filter(pmod(col("o_orderkey"), lit(17)) === 0)
            .crossJoin(broadcast(base.agg(max(col("o_orderkey")).as("mk"))))
            .withColumn("o_orderkey", col("o_orderkey") + col("mk") + 1)
            .drop("mk"))
        graft.operators.Snapshot
          .diff(base, next, "o_orderkey", Seq("o_orderstatus", "o_totalprice"))
          .groupBy(col("diff_status"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(array_contains(col("changed_cols"), "o_totalprice"), 1L)
              .otherwise(0L)).as("n_price_changed"),
            sum(when(array_contains(col("changed_cols"), "o_orderstatus"), 1L)
              .otherwise(0L)).as("n_status_changed"))
          .orderBy(col("diff_status"))
      },
      oracle = Some(
        """WITH nxt AS (
          |  SELECT o_orderkey,
          |    CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
          |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + CAST(100.0 AS DOUBLE)
          |         ELSE o_totalprice END AS o_totalprice
          |  FROM orders WHERE o_orderkey % 10 <> 0
          |  UNION ALL
          |  SELECT o_orderkey + (SELECT max(o_orderkey) FROM orders) + 1,
          |    o_orderstatus, o_totalprice
          |  FROM orders WHERE o_orderkey % 17 = 0
          |),
          |d AS (
          |  SELECT
          |    CASE WHEN a.o_orderkey IS NULL THEN 'added'
          |         WHEN b.o_orderkey IS NULL THEN 'removed'
          |         WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
          |           OR a.o_totalprice IS DISTINCT FROM b.o_totalprice THEN 'changed'
          |         ELSE 'unchanged' END AS diff_status,
          |    (a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
          |      AND a.o_totalprice IS DISTINCT FROM b.o_totalprice) AS pc,
          |    (a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
          |      AND a.o_orderstatus IS DISTINCT FROM b.o_orderstatus) AS sc
          |  FROM orders a FULL OUTER JOIN nxt b ON a.o_orderkey = b.o_orderkey
          |)
          |SELECT diff_status, count(*) AS n_rows,
          |  CAST(SUM(CASE WHEN pc THEN 1 ELSE 0 END) AS BIGINT) AS n_price_changed,
          |  CAST(SUM(CASE WHEN sc THEN 1 ELSE 0 END) AS BIGINT) AS n_status_changed
          |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = false),

    // ---- correlated LATERAL subquery (top-2 orders per customer; the
    // decorrelation-into-window shape Catalyst plans for lateral joins) ----
    QueryDef.sql("join_lateral",
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST LIMIT 2
        |) o ON true
        |WHERE c.c_custkey < 200
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
      bench = false),

    // ---- bitwise aggregates + scalar bit ops ----
    QueryDef("bitwise_funcs",
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("bit_and(user_id)").as("band"),
          expr("bit_or(user_id)").as("bor"),
          expr("bit_xor(user_id)").as("bxor"),
          count(lit(1)).as("n"))
        .withColumn("bor_bits", bit_count(col("bor")))
        .orderBy(col("event_type")),
      oracle = Some(
        """SELECT event_type,
          |  bit_and(user_id) AS band, bit_or(user_id) AS bor,
          |  bit_xor(user_id) AS bxor, count(*) AS n,
          |  bit_count(bit_or(user_id)) AS bor_bits
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = false),

    // ---- train/test decontamination: word-3-shingle overlap of every
    // train doc (source != src0) against the test corpus (source = src0).
    // Deterministic argmax via lexicographic max(struct(shared, test_id))
    // on both engines; overlap_frac is an exact int/int IEEE division. ----
    QueryDef("decontam_overlap",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.crossCorpusOverlap(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"),
          "doc_id", "text", k = 3, threshold = 0.5)
          .orderBy(col("train_id"))
      },
      oracle = Some(
        raw"""WITH sh AS (
             |  SELECT doc_id, source, unnest(list_distinct(
             |    CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
             |    ELSE list_transform(range(1, len(t) - 1),
             |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)) AS s
             |  FROM (SELECT doc_id, source,
             |          string_split_regex(trim(text), '\s+') AS t
             |        FROM documents)
             |), nsh AS (
             |  SELECT doc_id AS train_id, count(*) AS n_sh FROM sh
             |  WHERE source <> 'src0' GROUP BY 1
             |), best AS (
             |  SELECT train_id,
             |    max(struct_pack(shared := shared, tid := test_id)).shared AS shared,
             |    max(struct_pack(shared := shared, tid := test_id)).tid AS best_test_id
             |  FROM (
             |    SELECT a.doc_id AS train_id, b.doc_id AS test_id, count(*) AS shared
             |    FROM sh a JOIN sh b ON a.s = b.s
             |    WHERE a.source <> 'src0' AND b.source = 'src0'
             |    GROUP BY 1, 2
             |  ) GROUP BY 1
             |)
             |SELECT d.doc_id AS train_id,
             |  coalesce(nsh.n_sh, 0) AS n_sh,
             |  coalesce(best.shared, 0) AS shared,
             |  best.best_test_id AS best_test_id,
             |  CASE WHEN coalesce(nsh.n_sh, 0) > 0
             |    THEN CAST(coalesce(best.shared, 0) AS DOUBLE) / CAST(nsh.n_sh AS DOUBLE)
             |    ELSE 0.0 END AS overlap_frac,
             |  CASE WHEN coalesce(nsh.n_sh, 0) > 0
             |    THEN CAST(coalesce(best.shared, 0) AS DOUBLE) / CAST(nsh.n_sh AS DOUBLE)
             |    ELSE 0.0 END >= 0.5 AS contaminated
             |FROM documents d
             |LEFT JOIN nsh ON d.doc_id = nsh.train_id
             |LEFT JOIN best ON d.doc_id = best.train_id
             |WHERE d.source <> 'src0'
             |ORDER BY train_id""".stripMargin)),

    // ---- cross-source contamination matrix: distinct-shingle overlap
    //      between every source pair (containments both ways + Jaccard)
    //      — the mixing diagnostic before blending dumps into one
    //      training set. Spark side pairs sources inside a per-shingle
    //      collect_set (bounded at |sources|) instead of a shingle-keyed
    //      self-join whose hottest keys (corpus-wide n-grams) would
    //      explode |sources|² rows each; oracle joins raw shingle
    //      strings — same counts, Spark just ships 8-byte hashes. ----
    QueryDef("curation_source_overlap",
      (s, d) => Curation.sourceOverlapMatrix(
        Tables.documents(s, d), "source", "text", k = 3),
      oracle = Some(
        raw"""WITH sh AS (
             |  SELECT DISTINCT source AS src, s FROM (
             |    SELECT source, unnest(list_distinct(
             |      CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
             |      ELSE list_transform(range(1, len(t) - 1),
             |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)) AS s
             |    FROM (SELECT source, string_split_regex(trim(text), '\s+') AS t
             |          FROM documents))
             |),
             |totals AS (SELECT src, count(*) AS n FROM sh GROUP BY 1),
             |shared AS (
             |  SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.src < b.src
             |  GROUP BY 1, 2
             |)
             |SELECT ta.src AS src_a, tb.src AS src_b,
             |  coalesce(sh2.shared, 0) AS shared,
             |  ta.n AS n_a, tb.n AS n_b,
             |  CAST(coalesce(sh2.shared, 0) AS DOUBLE) / CAST(ta.n AS DOUBLE)
             |    AS containment_a,
             |  CAST(coalesce(sh2.shared, 0) AS DOUBLE) / CAST(tb.n AS DOUBLE)
             |    AS containment_b,
             |  CAST(coalesce(sh2.shared, 0) AS DOUBLE)
             |    / CAST(ta.n + tb.n - coalesce(sh2.shared, 0) AS DOUBLE)
             |    AS jaccard
             |FROM totals ta JOIN totals tb ON ta.src < tb.src
             |LEFT JOIN shared sh2 ON sh2.src_a = ta.src AND sh2.src_b = tb.src
             |ORDER BY src_a, src_b""".stripMargin)),

    // ---- DSIR-style importance weights (data selection for LMs): score
    //      each doc by the mean unigram log-ratio of a target domain
    //      (lang='en' here) vs the whole corpus, add-1 smoothed. The
    //      per-token log-ratio depends only on the token, so it is
    //      precomputed on the (tiny) vocabulary and broadcast; per-doc
    //      weights are exact BIGINT sums of integerized ratios — fully
    //      deterministic at any partitioning. Top-100 selection. ----
    QueryDef("curation_dsir_weights",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // corpus/target (vocab-sized, ≪ the token stream) each feed two
        // consumers (totals + ratio): shared so each vocab aggregation
        // runs once; the token explode recomputes per consumer (larger
        // than its source, see Stage.share)
        val tok = docs.select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        val corpus = tok.groupBy(col("tok")).agg(count(lit(1)).as("cc"))
          .stageShare()
        val target = tok.filter(col("lang") === "en")
          .groupBy(col("tok")).agg(count(lit(1)).as("ct"))
          .stageShare()
        val totals = corpus.agg(
          sum(col("cc")).as("tot_c"),
          count(lit(1)).as("vocab")).crossJoin(
          target.agg(sum(col("ct")).as("tot_t")))
        val ratio = corpus
          .join(target, Seq("tok"), "left")
          .crossJoin(broadcast(totals))
          .select(col("tok"),
            Det.toFixed(
              log((coalesce(col("ct"), lit(0L)) + 1) / (col("tot_t") + col("vocab")))
                - log((col("cc") + 1) / (col("tot_c") + col("vocab"))), 9).as("lr"))
        tok.join(broadcast(ratio), "tok")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("lr")).as("slr"))
          .select(col("doc_id"), col("n_tokens"),
            (col("slr").cast("double") / (col("n_tokens") * lit(1e9))).as("dsir_weight"))
          .orderBy(col("dsir_weight").desc, col("doc_id"))
          .limit(100)
      },
      oracle = Some(
        raw"""WITH tok AS (
             |  SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents
             |),
             |corpus AS (SELECT tok, count(*) AS cc FROM tok GROUP BY 1),
             |target AS (SELECT tok, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
             |totals AS (
             |  SELECT (SELECT sum(cc) FROM corpus) AS tot_c,
             |         (SELECT count(*) FROM corpus) AS vocab,
             |         (SELECT sum(ct) FROM target) AS tot_t
             |),
             |ratio AS (
             |  SELECT c.tok,
             |    CAST(ROUND((ln((coalesce(t.ct, 0) + 1) / (tt.tot_t + tt.vocab))
             |      - ln((c.cc + 1) / (tt.tot_c + tt.vocab))) * 1000000000, 0) AS BIGINT) AS lr
             |  FROM corpus c LEFT JOIN target t ON c.tok = t.tok CROSS JOIN totals tt
             |)
             |SELECT k.doc_id, count(*) AS n_tokens,
             |  CAST(sum(r.lr) AS DOUBLE) / (count(*) * 1000000000) AS dsir_weight
             |FROM tok k JOIN ratio r ON k.tok = r.tok
             |GROUP BY 1
             |ORDER BY dsir_weight DESC, doc_id LIMIT 100""".stripMargin),
      bench = false),

    // ---- two-sample Kolmogorov-Smirnov drift statistic (distribution
    //      shift between pipeline snapshots/domains): click-vs-error
    //      `value` distributions. Grouping to the distinct-value grid
    //      first shrinks the window input from O(rows) to O(|grid|);
    //      ECDF diffs are ratios of exact integer counts, so the max is
    //      bit-identical with no rounding at all. ----
    // ---- lag-k autocorrelation of the hourly value series, per event
    //      type (seasonality/self-similarity probe): corr(y_t, y_{t−k})
    //      for k = 1..6 over the hour grid, in the same exact-BIGINT
    //      suffstats form as stats_corr — hourly sums integerized to
    //      cents, all six sums exact, the final Pearson ratio pure IEEE
    //      on equal inputs. Grid-first keeps the lag join O(|grid|·K),
    //      row-count-independent. ----
    QueryDef("stats_autocorrelation",
      (s, d) => {
        val grid = Tables.events(s, d)
          .groupBy(col("event_type"),
            (floor(unix_seconds(col("ts")) / 3600L) * 3600L).cast("long").as("hs"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("yc"))
          .stageShare() // both sides of the lag join read the grid
        val cur = grid.withColumn("k", explode(array((1 to 6).map(lit(_)): _*)))
        val prev = grid.select(col("event_type"), col("hs").as("hs2"),
          col("yc").as("yp"))
        def d2(c: org.apache.spark.sql.Column) = c.cast("double")
        cur.join(prev, Seq("event_type"))
          .where(col("hs") - col("k").cast("long") * 3600L === col("hs2"))
          .groupBy(col("event_type"), col("k"))
          .agg(count(lit(1)).as("n"),
            sum(col("yc")).as("sx"), sum(col("yp")).as("sy"),
            sum(col("yc") * col("yp")).as("sxy"),
            sum(col("yc") * col("yc")).as("sxx"),
            sum(col("yp") * col("yp")).as("syy"))
          .select(col("event_type"), col("k"), col("n"),
            ((d2(col("n")) * d2(col("sxy")) - d2(col("sx")) * d2(col("sy"))) /
              (sqrt(d2(col("n")) * d2(col("sxx")) - d2(col("sx")) * d2(col("sx"))) *
                sqrt(d2(col("n")) * d2(col("syy")) - d2(col("sy")) * d2(col("sy")))))
              .as("acf"))
          .orderBy(col("event_type"), col("k"))
      },
      oracle = Some(
        """WITH grid AS (
          |  SELECT event_type,
          |    CAST(epoch_us(ts) // 3600000000 * 3600 AS BIGINT) AS hs,
          |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS yc
          |  FROM events GROUP BY 1, 2
          |), pairs AS (
          |  SELECT g1.event_type, CAST(t.k AS INT) AS k, g1.yc, g2.yc AS yp
          |  FROM grid g1, range(1, 7) t(k)
          |  JOIN grid g2 ON g2.event_type = g1.event_type
          |    AND g2.hs = g1.hs - t.k * 3600
          |), st AS (
          |  SELECT event_type, k, count(*) AS n,
          |    SUM(yc) AS sx, SUM(yp) AS sy, SUM(yc * yp) AS sxy,
          |    SUM(yc * yc) AS sxx, SUM(yp * yp) AS syy
          |  FROM pairs GROUP BY 1, 2
          |)
          |SELECT event_type, k, CAST(n AS BIGINT) AS n,
          |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
          |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
          |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
          |FROM st ORDER BY event_type, k""".stripMargin),
      bench = false),

    QueryDef("stats_ks_drift",
      (s, d) => {
        val grid = twoSampleGrid(s, d)
        gridCum(grid, Seq(RangeCum.Cum("c1", "k1"), RangeCum.Cum("c2", "k2")))
          .select(col("value"), col("k1"), col("k2"))
          .crossJoin(broadcast(grid.agg(
            sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))))
          .groupBy(col("n1"), col("n2"))
          .agg(max(abs(col("k1") / col("n1") - col("k2") / col("n2"))).as("ks_d"))
          .select(col("n1"), col("n2"), col("ks_d"))
      },
      oracle = Some(
        raw"""WITH $twoSampleGridSql,
             |c AS (
             |  SELECT value,
             |    SUM(c1) OVER (ORDER BY value) AS k1,
             |    SUM(c2) OVER (ORDER BY value) AS k2
             |  FROM g
             |),
             |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM g)
             |SELECT n.n1, n.n2,
             |  MAX(ABS(CAST(k1 AS DOUBLE) / n.n1 - CAST(k2 AS DOUBLE) / n.n2)) AS ks_d
             |FROM c, n GROUP BY n.n1, n.n2""".stripMargin),
      bench = false),

    // ---- population-stability-index drift over equi-width bins
    //      (doc-length distributions, 'en' vs 'de'): the classic
    //      model-monitoring score Σ (p1-p2)·ln(p1/p2) with +0.5 bin
    //      smoothing. Global min/max is one scalar broadcast; binning is
    //      pure IEEE arithmetic on integers so bin ids agree everywhere;
    //      per-bin PSI terms are integerized before the final sum. ----
    QueryDef("stats_psi_drift",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("lang").isin("en", "de"))
        val rng = docs.agg(min(col("n_chars")).as("lo"),
          (max(col("n_chars")) + 1).as("hi"))
        val binned = docs.crossJoin(broadcast(rng))
          .select(col("lang"),
            floor((col("n_chars") - col("lo")) * 10 / (col("hi") - col("lo")))
              .cast("long").as("bin"))
        // observed (≤10 rows) feeds the totals AND the final projection:
        // staged so the corpus binning pass runs once, not per consumer
        val observed = binned.groupBy(col("bin")).agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c1"),
          sum(when(col("lang") === "de", 1L).otherwise(0L)).as("c2"))
          .stageShare()
        // all 10 bins ALWAYS present: an interior bin empty in both
        // groups still carries a nonzero smoothed term when n1 != n2,
        // and consumers rely on the fixed 10-row shape.
        val counts = (s.range(0, 10): org.apache.spark.sql.Dataset[java.lang.Long])
          .toDF("bin").join(observed, Seq("bin"), "left")
          .withColumn("c1", coalesce(col("c1"), lit(0L)))
          .withColumn("c2", coalesce(col("c2"), lit(0L)))
        val tot = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        counts.crossJoin(broadcast(tot))
          .withColumn("p1", (col("c1") + 0.5) / (col("n1") + 5.0))
          .withColumn("p2", (col("c2") + 0.5) / (col("n2") + 5.0))
          .select(col("bin"), col("c1"), col("c2"),
            Det.fixed((col("p1") - col("p2")) * log(col("p1") / col("p2")), 6)
              .as("psi_term"))
          .orderBy(col("bin"))
      },
      oracle = Some(
        raw"""WITH d AS (SELECT lang, n_chars FROM documents WHERE lang IN ('en', 'de')),
             |rng AS (SELECT min(n_chars) AS lo, max(n_chars) + 1 AS hi FROM d),
             |b AS (
             |  SELECT lang,
             |    CAST(floor((n_chars - rng.lo) * 10 / (rng.hi - rng.lo)) AS BIGINT) AS bin
             |  FROM d, rng
             |),
             |observed AS (
             |  SELECT bin,
             |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1,
             |    SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS c2
             |  FROM b GROUP BY bin
             |),
             |counts AS (
             |  SELECT g.bin, coalesce(o.c1, 0) AS c1, coalesce(o.c2, 0) AS c2
             |  FROM (SELECT unnest(generate_series(0, 9)) AS bin) g
             |  LEFT JOIN observed o ON g.bin = o.bin
             |),
             |tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM counts)
             |SELECT bin, CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
             |  (ROUND(((c1 + CAST(0.5 AS DOUBLE)) / (n1 + CAST(5.0 AS DOUBLE))
             |        - (c2 + CAST(0.5 AS DOUBLE)) / (n2 + CAST(5.0 AS DOUBLE)))
             |    * ln(((c1 + CAST(0.5 AS DOUBLE)) / (n1 + CAST(5.0 AS DOUBLE)))
             |       / ((c2 + CAST(0.5 AS DOUBLE)) / (n2 + CAST(5.0 AS DOUBLE))))
             |    * 1000000, 0) / 1000000) AS psi_term
             |FROM counts, tot ORDER BY bin""".stripMargin),
      bench = false),

    // ---- Jensen–Shannon divergence over the same en/de length bins:
    //      the BOUNDED ([0, ln 2]) symmetric drift measure PSI lacks —
    //      PSI diverges to ∞ on near-empty bins, JSD saturates, so it
    //      is the score to threshold when distributions can be
    //      disjoint. Same smoothed binning; per-bin terms vs the
    //      mixture m = (p1+p2)/2, integerized before any sum. ----
    QueryDef("stats_js_divergence",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("lang").isin("en", "de"))
        val rng = docs.agg(min(col("n_chars")).as("lo"),
          (max(col("n_chars")) + 1).as("hi"))
        val binned = docs.crossJoin(broadcast(rng))
          .select(col("lang"),
            floor((col("n_chars") - col("lo")) * 10 / (col("hi") - col("lo")))
              .cast("long").as("bin"))
        val observed = binned.groupBy(col("bin")).agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c1"),
          sum(when(col("lang") === "de", 1L).otherwise(0L)).as("c2"))
          .stageShare()
        val counts = (s.range(0, 10): org.apache.spark.sql.Dataset[java.lang.Long])
          .toDF("bin").join(observed, Seq("bin"), "left")
          .withColumn("c1", coalesce(col("c1"), lit(0L)))
          .withColumn("c2", coalesce(col("c2"), lit(0L)))
        val tot = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        val m = (col("p1") + col("p2")) / lit(2.0)
        counts.crossJoin(broadcast(tot))
          .withColumn("p1", (col("c1") + 0.5) / (col("n1") + 5.0))
          .withColumn("p2", (col("c2") + 0.5) / (col("n2") + 5.0))
          .select(col("bin"), col("c1"), col("c2"),
            Det.fixed((col("p1") * log(col("p1") / m)
              + col("p2") * log(col("p2") / m)) / lit(2.0), 6)
              .as("jsd_term"))
          .orderBy(col("bin"))
      },
      oracle = Some(
        raw"""WITH d AS (SELECT lang, n_chars FROM documents WHERE lang IN ('en', 'de')),
             |rng AS (SELECT min(n_chars) AS lo, max(n_chars) + 1 AS hi FROM d),
             |b AS (
             |  SELECT lang,
             |    CAST(floor((n_chars - rng.lo) * 10 / (rng.hi - rng.lo)) AS BIGINT) AS bin
             |  FROM d, rng
             |),
             |observed AS (
             |  SELECT bin,
             |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1,
             |    SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS c2
             |  FROM b GROUP BY bin
             |),
             |counts AS (
             |  SELECT g.bin, coalesce(o.c1, 0) AS c1, coalesce(o.c2, 0) AS c2
             |  FROM (SELECT unnest(generate_series(0, 9)) AS bin) g
             |  LEFT JOIN observed o ON g.bin = o.bin
             |),
             |tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM counts),
             |probs AS (
             |  SELECT bin, c1, c2,
             |    (c1 + CAST(0.5 AS DOUBLE)) / (n1 + CAST(5.0 AS DOUBLE)) AS p1,
             |    (c2 + CAST(0.5 AS DOUBLE)) / (n2 + CAST(5.0 AS DOUBLE)) AS p2
             |  FROM counts, tot
             |)
             |SELECT bin, CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
             |  (ROUND((p1 * ln(p1 / ((p1 + p2) / CAST(2 AS DOUBLE)))
             |        + p2 * ln(p2 / ((p1 + p2) / CAST(2 AS DOUBLE))))
             |    / CAST(2 AS DOUBLE) * 1000000, 0) / 1000000) AS jsd_term
             |FROM probs ORDER BY bin""".stripMargin)),

    // ---- chi-square independence test (lang × source association —
    //      catalog-level QA: is a source lang-skewed?). Contingency
    //      cells, margins and expectations are integer-derived IEEE
    //      doubles; per-cell terms integerized before the exact sum, so
    //      the statistic is partitioning-independent. ----
    QueryDef("stats_chisq_independence",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // observed (L×S aggregated rows) feeds SIX consumers (both
        // distincts, the grid join, both marginals, tot): staged so the
        // corpus groupBy runs once — unstaged, every consumer re-derived
        // it from the raw scan (12 scans in the physical plan).
        val observed = docs.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n"))
          .stageShare()
        // FULL L×S grid: a (lang, source) pair with zero documents still
        // contributes (0-E)²/E = E to the statistic — groupBy alone
        // would silently drop it (and dof would overstate the table).
        // Distincts come from the already-aggregated `observed` frame
        // (every value present in docs is present there) — no extra
        // corpus scans.
        val cells = observed.select(col("lang")).distinct()
          .crossJoin(observed.select(col("source")).distinct())
          .join(observed, Seq("lang", "source"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
        val rowT = cells.groupBy(col("lang")).agg(sum(col("n")).as("rl"))
        val colT = cells.groupBy(col("source")).agg(sum(col("n")).as("cs"))
        val tot = cells.agg(sum(col("n")).as("nn"),
          countDistinct(col("lang")).as("nl"),
          countDistinct(col("source")).as("ns"))
        cells.join(broadcast(rowT), "lang").join(broadcast(colT), "source")
          .crossJoin(broadcast(tot))
          // rl·cs in DOUBLE (a long product wraps past ~3e9 docs) and
          // wide per-cell terms (the long cast clamps at 9.2e18)
          .withColumn("e",
            col("rl").cast("double") * col("cs").cast("double") / col("nn"))
          .agg(
            count(lit(1)).as("n_cells"),
            max((col("nl") - 1) * (col("ns") - 1)).as("dof"),
            (sum(Det.toFixedWide(pow(col("n") - col("e"), 2) / col("e"), 9))
              .cast("double") / 1e9).as("chi2"))
      },
      oracle = Some(
        raw"""WITH observed AS (
             |  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
             |),
             |cells AS (
             |  SELECT l.lang, s.source, coalesce(o.n, 0) AS n
             |  FROM (SELECT DISTINCT lang FROM observed) l
             |  CROSS JOIN (SELECT DISTINCT source FROM observed) s
             |  LEFT JOIN observed o ON l.lang = o.lang AND s.source = o.source
             |),
             |rt AS (SELECT lang, sum(n) AS rl FROM cells GROUP BY 1),
             |ct AS (SELECT source, sum(n) AS cs FROM cells GROUP BY 1),
             |tot AS (
             |  SELECT sum(n) AS nn, count(DISTINCT lang) AS nl,
             |    count(DISTINCT source) AS ns
             |  FROM (SELECT c0.lang, c0.source, c0.n FROM cells c0)
             |)
             |SELECT count(*) AS n_cells,
             |  CAST(max((tot.nl - 1) * (tot.ns - 1)) AS BIGINT) AS dof,
             |  CAST(sum(CAST(ROUND(pow(cells.n
             |      - CAST(rt.rl AS DOUBLE) * CAST(ct.cs AS DOUBLE) / CAST(tot.nn AS DOUBLE), 2)
             |    / (CAST(rt.rl AS DOUBLE) * CAST(ct.cs AS DOUBLE) / CAST(tot.nn AS DOUBLE))
             |    * 1000000000, 0) AS HUGEINT)) AS DOUBLE)
             |    / 1000000000 AS chi2
             |FROM cells, rt, ct, tot
             |WHERE cells.lang = rt.lang AND cells.source = ct.source""".stripMargin),
      bench = false),

    // ---- Spearman rank correlation (monotone association, robust to
    //      outliers — curation QA between two metrics). Ranks come from
    //      the value-grid: per distinct value, min-rank = cum - cnt + 1,
    //      and DOUBLED average ties-rank 2r̄ = 2·cum - cnt + 1 stays an
    //      exact integer, so all six sufficient statistics are exact
    //      BIGINT sums (Pearson on 2r̄ ≡ Pearson on r̄, affine-invariant).
    //      The global rank windows run over the distinct-value grids, not
    //      the rows. ----
    QueryDef("stats_spearman",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
        // l_extendedprice is ~97% distinct, so this grid is NOT small:
        // the cumulative count must be range-partitioned ([[RangeCum]]),
        // not a global single-task window.
        def grid(c: String) =
          RangeCum.withCums(
            li.groupBy(col(c)).agg(count(lit(1)).as("cnt")),
            c, Seq(RangeCum.Cum("cnt", "cum")))
          .select(col(c), (col("cum") * 2 - col("cnt") + 1).as(s"r$c"))
        // rank products and their sums outgrow BIGINT at ~1.3M rows
        // (Σr² ≤ 4n³); DECIMAL(38,0) sums stay exact to ~1e38 — the same
        // headroom DuckDB gets from HUGEINT — so the statistic remains
        // bit-identical at any realistic scale.
        def dec(c: Column) = c.cast("decimal(38,0)")
        li.join(grid("x"), "x").join(grid("y"), "y")
          .agg(
            count(lit(1)).as("n"),
            sum(dec(col("rx"))).as("sx"), sum(dec(col("ry"))).as("sy"),
            sum(dec(col("rx")) * dec(col("rx"))).as("sxx"),
            sum(dec(col("ry")) * dec(col("ry"))).as("syy"),
            sum(dec(col("rx")) * dec(col("ry"))).as("sxy"))
          .select(col("n"),
            // widen to double BEFORE the n·Σ products: n·Σxy ≈ 5e19
            // overflows BIGINT at sf0.01 already (ANSI mode would throw);
            // the double arithmetic is identical IEEE in both engines.
            ((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double")) /
              sqrt((col("n").cast("double") * col("sxx").cast("double")
                  - col("sx").cast("double") * col("sx").cast("double")) *
                (col("n").cast("double") * col("syy").cast("double")
                  - col("sy").cast("double") * col("sy").cast("double"))))
              .as("rho"))
      },
      oracle = Some(
        raw"""WITH v AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
             |r AS (
             |  SELECT CAST(2 * rank() OVER (ORDER BY x)
             |           + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx,
             |         CAST(2 * rank() OVER (ORDER BY y)
             |           + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry
             |  FROM v
             |)
             |SELECT count(*) AS n,
             |  (CAST(count(*) AS DOUBLE) * CAST(sum(CAST(rx AS HUGEINT) * ry) AS DOUBLE)
             |     - CAST(sum(rx) AS DOUBLE) * CAST(sum(ry) AS DOUBLE))
             |  / sqrt((CAST(count(*) AS DOUBLE) * CAST(sum(CAST(rx AS HUGEINT) * rx) AS DOUBLE)
             |       - CAST(sum(rx) AS DOUBLE) * CAST(sum(rx) AS DOUBLE))
             |    * (CAST(count(*) AS DOUBLE) * CAST(sum(CAST(ry AS HUGEINT) * ry) AS DOUBLE)
             |       - CAST(sum(ry) AS DOUBLE) * CAST(sum(ry) AS DOUBLE))) AS rho
             |FROM r""".stripMargin),
      bench = false),

    // ---- Mann-Whitney U rank-sum test (nonparametric two-sample drift:
    //      did the click and error value distributions shift?). Rank sums
    //      computed on the value grid (doubled ties-average ranks are
    //      exact integers: 2r̄ = 2·cumtot - ctot + 1); U and the normal
    //      approximation z are pure IEEE arithmetic on exact integers —
    //      sqrt is correctly rounded, so no Det rounding is needed. ----
    QueryDef("stats_mannwhitney_u",
      (s, d) => {
        val grid = twoSampleGrid(s, d)
          .withColumn("ct", col("c1") + col("c2"))
        val ranked = gridCum(grid, Seq(RangeCum.Cum("ct", "cumt")))
          .select(col("c1"), col("c2"),
            (col("cumt") * 2 - col("ct") + 1).as("r2"))
        ranked
          .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
            // rank-sum ~ 2n² wraps LongType near 2.1e9 rows/side; the
            // DECIMAL(38,0) product+sum stays exact to ~1e38 (the same
            // headroom as DuckDB's HUGEINT sum), matching stats_spearman
            sum(col("c1").cast("decimal(38,0)") * col("r2")).as("rs2"))
          .select(col("n1"), col("n2"),
            (col("rs2").cast("double") / lit(2.0)
              - col("n1").cast("double") * (col("n1") + 1).cast("double")
                / lit(2.0)).as("u1"))
          // widen to double BEFORE the products: n1·n2·(n1+n2+1) wraps
          // LongType silently past ~2M rows per side (1.6e19 > Long.Max)
          // while DuckDB's HUGEINT stays exact — the same latent-scale
          // divergence stats_spearman already guards against
          .withColumn("z",
            (col("u1") - col("n1").cast("double") * col("n2").cast("double")
              / lit(2.0)) /
              sqrt(col("n1").cast("double") * col("n2").cast("double")
                * (col("n1") + col("n2") + 1).cast("double") / lit(12.0)))
      },
      oracle = Some(
        raw"""WITH $twoSampleGridSql,
             |r AS (
             |  SELECT c1, c2,
             |    2 * SUM(c1 + c2) OVER (ORDER BY value) - (c1 + c2) + 1 AS r2
             |  FROM g
             |),
             |t AS (
             |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
             |    SUM(CAST(c1 AS HUGEINT) * r2) AS rs2
             |  FROM r
             |)
             |SELECT n1, n2,
             |  CAST(rs2 AS DOUBLE) / CAST(2.0 AS DOUBLE)
             |    - CAST(n1 AS DOUBLE) * CAST(n1 + 1 AS DOUBLE) / CAST(2.0 AS DOUBLE) AS u1,
             |  (CAST(rs2 AS DOUBLE) / CAST(2.0 AS DOUBLE)
             |     - CAST(n1 AS DOUBLE) * CAST(n1 + 1 AS DOUBLE) / CAST(2.0 AS DOUBLE)
             |     - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(2.0 AS DOUBLE))
             |  / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             |      * CAST(n1 + n2 + 1 AS DOUBLE) / CAST(12.0 AS DOUBLE)) AS z
             |FROM t""".stripMargin),
      bench = false),

    // ---- QQ decile drift (where in the distribution did the shift
    //      happen — the diagnostic companion to the scalar KS/PSI
    //      statistics). Discrete deciles off the value grid: the i-th
    //      decile is the smallest value whose cumulative count reaches
    //      ⌈i·n/10⌉, selected with the all-integer predicate
    //      10·k ≥ i·n (no ceil, no floats) — engine-exact by
    //      construction. ----
    QueryDef("stats_qq_deciles",
      (s, d) => {
        val grid = twoSampleGrid(s, d)
        val cum = gridCum(grid,
            Seq(RangeCum.Cum("c1", "k1"), RangeCum.Cum("c2", "k2")))
          .select(col("value"), col("k1"), col("k2"))
        val tot = grid.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        val deciles = (s.range(1, 10): org.apache.spark.sql.Dataset[java.lang.Long])
          .toDF("dec")
        cum.crossJoin(broadcast(tot)).crossJoin(broadcast(deciles))
          .groupBy(col("dec"))
          .agg(
            min(when(col("k1") * 10 >= col("dec") * col("n1"), col("value")))
              .as("q_click"),
            min(when(col("k2") * 10 >= col("dec") * col("n2"), col("value")))
              .as("q_error"))
          .select(col("dec"), col("q_click"), col("q_error"),
            (col("q_error") - col("q_click")).as("shift"))
          .orderBy(col("dec"))
      },
      oracle = Some(
        raw"""WITH $twoSampleGridSql,
             |c AS (
             |  SELECT value,
             |    SUM(c1) OVER (ORDER BY value) AS k1,
             |    SUM(c2) OVER (ORDER BY value) AS k2
             |  FROM g
             |),
             |t AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM g),
             |dec AS (SELECT unnest(generate_series(1, 9)) AS dec)
             |SELECT dec,
             |  MIN(CASE WHEN k1 * 10 >= dec * t.n1 THEN value END) AS q_click,
             |  MIN(CASE WHEN k2 * 10 >= dec * t.n2 THEN value END) AS q_error,
             |  MIN(CASE WHEN k2 * 10 >= dec * t.n2 THEN value END)
             |    - MIN(CASE WHEN k1 * 10 >= dec * t.n1 THEN value END) AS shift
             |FROM c, t, dec
             |GROUP BY dec ORDER BY dec""".stripMargin),
      bench = false),

    // ---- one-way ANOVA F (did the mean shift across event types?).
    //      Per-group sufficient statistics from integerized per-row
    //      values (x at 1e6, x² at 1e6 — two independent fixed-point
    //      estimators, exact BIGINT sums), between/within sums of squares
    //      and F as pure IEEE arithmetic on those exact inputs. ----
    QueryDef("stats_anova_f",
      (s, d) => {
        // per-group sufficient stats; DECIMAL(38,0) sums keep Σx and Σx²
        // exact far past BIGINT range (mirrors DuckDB's HUGEINT sums)
        val g = Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("ng"),
            (sum(Det.toFixed(col("value"), 6).cast("decimal(38,0)"))
              .cast("double") / 1e6).as("sg"),
            (sum(Det.toFixed(col("value") * col("value"), 6).cast("decimal(38,0)"))
              .cast("double") / 1e6).as("qg"))
        val tot = g.agg(sum(col("ng")).as("n"),
          Det.fixedSum(col("sg"), 6).as("st"), count(lit(1)).as("k"))
        // even a 5-row double sum is merge-order-dependent: integerize
        // the per-group SSB/SSW terms before the final exact sum
        g.crossJoin(broadcast(tot))
          .select(col("n"), col("k"),
            (col("ng") * pow(col("sg") / col("ng") - col("st") / col("n"), 2))
              .as("bterm"),
            (col("qg") - col("sg") * col("sg") / col("ng")).as("wterm"))
          .groupBy(col("n"), col("k"))
          .agg(
            (sum(Det.toFixedWide(col("bterm"), 6)).cast("double") / 1e6).as("ssb"),
            (sum(Det.toFixedWide(col("wterm"), 6)).cast("double") / 1e6).as("ssw"))
          .select(col("n"), col("k"), col("ssb"), col("ssw"),
            Det.fixed((col("ssb") / (col("k") - 1)) /
              (col("ssw") / (col("n") - col("k"))), 6).as("f_stat"))
      },
      oracle = Some(
        raw"""WITH gg AS (
             |  SELECT event_type, count(*) AS ng,
             |    CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS DOUBLE)
             |      / 1000000 AS sg,
             |    CAST(SUM(CAST(ROUND(value * value * 1000000, 0) AS BIGINT)) AS DOUBLE)
             |      / 1000000 AS qg
             |  FROM events GROUP BY 1
             |),
             |tot AS (
             |  SELECT CAST(SUM(ng) AS BIGINT) AS n,
             |    CAST(SUM(CAST(ROUND(sg * 1000000, 0) AS BIGINT)) AS DOUBLE)
             |      / 1000000 AS st,
             |    count(*) AS k
             |  FROM gg
             |),
             |terms AS (
             |  SELECT tot.n, tot.k,
             |    gg.ng * pow(gg.sg / gg.ng - tot.st / tot.n, 2) AS bterm,
             |    gg.qg - gg.sg * gg.sg / gg.ng AS wterm
             |  FROM gg, tot
             |),
             |ss AS (
             |  SELECT n, k,
             |    CAST(SUM(CAST(ROUND(bterm * 1000000, 0) AS HUGEINT)) AS DOUBLE)
             |      / 1000000 AS ssb,
             |    CAST(SUM(CAST(ROUND(wterm * 1000000, 0) AS HUGEINT)) AS DOUBLE)
             |      / 1000000 AS ssw
             |  FROM terms GROUP BY n, k
             |)
             |SELECT n, k, ssb, ssw,
             |  (ROUND(((ssb / (k - 1)) / (ssw / (n - k))) * 1000000, 0) / 1000000)
             |    AS f_stat
             |FROM ss""".stripMargin),
      bench = false),

    // ---- CUSUM changepoint detection (WHEN did the level shift? — the
    //      temporal companion to the two-sample drift statistics). Hourly
    //      error-count series; the scaled cusum n·K_t − t·S is an exact
    //      integer (K_t = running count, S = total, t = hour index), so
    //      the argmax|·| pick is engine-exact with no floats anywhere
    //      until the final presentation division. ----
    QueryDef("events_changepoint",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .filter(col("event_type") === "error")
          .groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("x"))
        // hour grid is time-bounded, but the cumulative still goes
        // through RangeCum: uniform plan shape, no single-partition
        // window anywhere in the catalog (t = cumsum of ones ≡
        // row_number on the unique hour grid)
        val cum = RangeCum.withCums(hourly.withColumn("one", lit(1L)),
            "hour", Seq(RangeCum.Cum("one", "t"), RangeCum.Cum("x", "kt")))
          .select(col("hour"), col("t"), col("kt"))
        val tot = hourly.agg(count(lit(1)).as("nh"), sum(col("x")).as("s"))
        cum.crossJoin(broadcast(tot))
          .select(col("hour"), col("t"), col("nh"),
            (col("nh") * col("kt") - col("t") * col("s")).as("cn"))
          .orderBy(abs(col("cn")).desc, col("hour"))
          .limit(1)
          .select(col("hour").as("changepoint_hour"), col("t").as("t_index"),
            col("nh").as("n_hours"),
            (col("cn").cast("double") / col("nh")).as("max_cusum"))
      },
      oracle = Some(
        raw"""WITH hourly AS (
             |  SELECT date_trunc('hour', ts) AS hour, count(*) AS x
             |  FROM events WHERE event_type = 'error' GROUP BY 1
             |),
             |cum AS (
             |  SELECT hour,
             |    CAST(row_number() OVER (ORDER BY hour) AS BIGINT) AS t,
             |    SUM(x) OVER (ORDER BY hour) AS kt
             |  FROM hourly
             |),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS nh,
             |        CAST(SUM(x) AS BIGINT) AS s FROM hourly)
             |SELECT hour AS changepoint_hour, t AS t_index, tot.nh AS n_hours,
             |  CAST(tot.nh * kt - t * tot.s AS DOUBLE) / tot.nh AS max_cusum
             |FROM cum, tot
             |ORDER BY abs(tot.nh * kt - t * tot.s) DESC, hour LIMIT 1""".stripMargin),
      bench = false),

    // ---- isotonic calibration (monotone probability calibration, e.g.
    //      a quality-classifier score → empirical rate map). PAV is
    //      sequential, but the SOLUTION has a closed relational form:
    //      ŷ_k = max_{i≤k} min_{j≥k} avg(pos, i..j) — the weighted
    //      minimax formula over bin prefix sums. Binning to B=20 value
    //      bins first makes the pair space O(B²) regardless of row
    //      count; every avg is a ratio of exact integer prefix diffs, so
    //      min/max picks are engine-exact with no rounding. ----
    QueryDef("stats_isotonic_calibration",
      (s, d) => {
        val ev = Tables.events(s, d)
        val rng = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
        val grid = ev.crossJoin(broadcast(rng))
          // degenerate range (all values equal): everything in bin 0 —
          // the unguarded division would give NaN bins here and a
          // diverging NULL on the oracle side
          .select(when(col("hi") === col("lo"), 0L)
              .otherwise(least(floor((col("value") - col("lo")) * 20
                / (col("hi") - col("lo"))), lit(19.0)).cast("long")).as("bin"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("p")).as("pos"))
        // pre is referenced four times (i/j sides, the kb list, the final
        // join) — checkpoint the B-row frame so the O(rows) binning
        // aggregate runs ONCE, as the scale story claims; cumulatives go
        // through RangeCum (20-bin input, but no unpartitioned window
        // remains anywhere in the catalog)
        val pre = RangeCum.withCums(grid, "bin",
            Seq(RangeCum.Cum("n", "cn"), RangeCum.Cum("pos", "cp")))
          .select(col("bin"), col("n"), col("pos"), col("cn"), col("cp"))
          .stageCheckpoint()
        val avgs = pre.as("i").join(pre.as("j"), col("j.bin") >= col("i.bin"))
          .select(col("i.bin").as("ib"), col("j.bin").as("jb"),
            ((col("j.cp") - col("i.cp") + col("i.pos")).cast("double") /
              (col("j.cn") - col("i.cn") + col("i.n"))).as("a"))
        val inner = avgs
          .join(pre.select(col("bin").as("kb")),
            col("jb") >= col("kb") && col("ib") <= col("kb"))
          .groupBy(col("kb"), col("ib")).agg(min(col("a")).as("mn"))
        val iso = inner.groupBy(col("kb").as("bin"))
          .agg(max(col("mn")).as("rate_iso"))
        pre.select(col("bin"), col("n"), col("pos")).join(iso, "bin")
          .select(col("bin"), col("n"), col("pos"),
            (col("pos").cast("double") / col("n")).as("rate_raw"),
            col("rate_iso"))
          .orderBy(col("bin"))
      },
      oracle = Some(
        raw"""WITH rng AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
             |grid AS (
             |  SELECT CASE WHEN rng.hi = rng.lo THEN 0
             |    ELSE least(CAST(floor((value - rng.lo) * 20 / (rng.hi - rng.lo))
             |      AS BIGINT), 19) END AS bin,
             |    count(*) AS n,
             |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS pos
             |  FROM events, rng GROUP BY 1
             |),
             |pre AS (
             |  SELECT bin, n, pos,
             |    SUM(n) OVER (ORDER BY bin) AS cn,
             |    SUM(pos) OVER (ORDER BY bin) AS cp
             |  FROM grid
             |),
             |avgs AS (
             |  SELECT i.bin AS ib, j.bin AS jb,
             |    CAST(j.cp - i.cp + i.pos AS DOUBLE)
             |      / CAST(j.cn - i.cn + i.n AS DOUBLE) AS a
             |  FROM pre i JOIN pre j ON j.bin >= i.bin
             |),
             |inner_min AS (
             |  SELECT k.bin AS kb, avgs.ib, min(avgs.a) AS mn
             |  FROM avgs JOIN grid k ON avgs.jb >= k.bin AND avgs.ib <= k.bin
             |  GROUP BY 1, 2
             |),
             |iso AS (SELECT kb AS bin, max(mn) AS rate_iso FROM inner_min GROUP BY 1)
             |SELECT g.bin, g.n, g.pos,
             |  CAST(g.pos AS DOUBLE) / g.n AS rate_raw, iso.rate_iso
             |FROM grid g JOIN iso ON g.bin = iso.bin
             |ORDER BY g.bin""".stripMargin),
      bench = false),

    // ---- robust outlier detection per group: median + MAD (median
    //      absolute deviation), the heavy-tail-safe alternative to the
    //      z-score flagger (stats_zscore_outliers). Both medians are
    //      lower-medians off distinct-value grids selected with the
    //      all-integer predicate 2k ≥ n — engine-exact, no interpolation
    //      — and both per-group cumulatives run through the GROUPED
    //      RangeCum prefix (range-partitioned on (group, value)), so a
    //      group with billions of rows never lands in one window task.
    //      Flag threshold = 3·1.4826·MAD (the normal-consistency
    //      constant), pure IEEE arithmetic on exact inputs. ----
    QueryDef("stats_mad_outliers",
      (s, d) => {
        val ev = Tables.events(s, d)
        val grid = ev.groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("cnt"))
        val cum = RangeCum.withCumsGrouped(grid, Seq("event_type"), "value",
          Seq(RangeCum.Cum("cnt", "k")))
        val tot = grid.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
        val med = cum.join(broadcast(tot), "event_type")
          .groupBy(col("event_type"), col("n"))
          .agg(min(when(col("k") * 2 >= col("n"), col("value"))).as("med"))
        val devGrid = grid.join(broadcast(med), "event_type")
          .groupBy(col("event_type"), col("n"), col("med"),
            abs(col("value") - col("med")).as("dev"))
          .agg(sum(col("cnt")).as("dcnt"))
        val dcum = RangeCum.withCumsGrouped(devGrid, Seq("event_type"), "dev",
          Seq(RangeCum.Cum("dcnt", "dk")))
        val mad = dcum.groupBy(col("event_type"), col("n"), col("med"))
          .agg(min(when(col("dk") * 2 >= col("n"), col("dev"))).as("mad"))
        ev.join(broadcast(mad), "event_type")
          .groupBy(col("event_type"), col("n"), col("med"), col("mad"))
          .agg(sum(when(abs(col("value") - col("med")) >
              lit(3.0) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
          .orderBy(col("event_type"))
      },
      oracle = Some(
        raw"""WITH g AS (
             |  SELECT event_type, value, count(*) AS cnt
             |  FROM events GROUP BY 1, 2
             |),
             |c AS (
             |  SELECT event_type, value, cnt,
             |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY value) AS k
             |  FROM g
             |),
             |t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
             |      FROM g GROUP BY 1),
             |med AS (
             |  SELECT c.event_type, t.n,
             |    MIN(CASE WHEN k * 2 >= t.n THEN value END) AS med
             |  FROM c JOIN t ON t.event_type = c.event_type GROUP BY 1, 2
             |),
             |dg AS (
             |  SELECT g.event_type, med.n, med.med,
             |    ABS(g.value - med.med) AS dev,
             |    CAST(SUM(g.cnt) AS BIGINT) AS dcnt
             |  FROM g JOIN med ON med.event_type = g.event_type
             |  GROUP BY 1, 2, 3, 4
             |),
             |dc AS (
             |  SELECT event_type, n, med, dev,
             |    SUM(dcnt) OVER (PARTITION BY event_type ORDER BY dev) AS dk
             |  FROM dg
             |),
             |mad AS (
             |  SELECT event_type, n, med,
             |    MIN(CASE WHEN dk * 2 >= n THEN dev END) AS mad
             |  FROM dc GROUP BY 1, 2, 3
             |)
             |SELECT e.event_type, m.n, m.med, m.mad,
             |  CAST(SUM(CASE WHEN ABS(e.value - m.med) > 3.0 * 1.4826 * m.mad
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM events e JOIN mad m ON m.event_type = e.event_type
             |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin),
      bench = false),

    // ---- declarative data-validation suite (the Deequ/great-expectations
    //      capability): completeness, key uniqueness, value bounds,
    //      positivity, domain membership, referential integrity — each a
    //      (check, metric, passed) row from ONE pass over the fact table
    //      (single multi-aggregate; the exact distinct is Spark's
    //      standard two-phase expand) plus one anti-join for the foreign
    //      key. All metrics are ratios/counts of exact BIGINTs, so the
    //      row set is bit-identical cross-engine. ----
    // Kept as a DataFrame: its checks read one cached frame, where the text re-scans per check.
    QueryDef("quality_constraints",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
        val m = li.agg(
          count(lit(1)).as("n_rows"),
          count(col("l_returnflag")).as("n_flag"),
          countDistinct(col("l_orderkey") * 8 + col("l_linenumber")).as("n_pk"),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("n_qty_oob"),
          sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L))
            .as("n_price_bad"),
          sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
            .otherwise(0L)).as("n_flag_bad"))
        val orphan = li
          .join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphan"))
        // shared: every check() union branch below selects from this
        // 1-row frame — without the share each branch re-runs the
        // multi-aggregate scan AND the anti-join (7x the claimed ONE pass)
        val base = m.crossJoin(orphan).stageShare()
        def check(name: String, metric: Column, passed: Column) =
          base.select(lit(name).as("check_name"),
            metric.cast("double").as("metric"), passed.as("passed"))
        check("completeness_l_returnflag",
            col("n_flag").cast("double") / col("n_rows"),
            col("n_flag") === col("n_rows"))
          .unionByName(check("uniqueness_pk",
            col("n_pk").cast("double") / col("n_rows"),
            col("n_pk") === col("n_rows")))
          .unionByName(check("bounds_l_quantity",
            col("n_qty_oob"), col("n_qty_oob") === 0))
          .unionByName(check("positivity_l_extendedprice",
            col("n_price_bad"), col("n_price_bad") === 0))
          .unionByName(check("domain_l_returnflag",
            col("n_flag_bad"), col("n_flag_bad") === 0))
          .unionByName(check("ref_integrity_orderkey",
            col("n_orphan"), col("n_orphan") === 0))
          .orderBy(col("check_name"))
      },
      oracle = Some(
        raw"""WITH m AS (
             |  SELECT count(*) AS n_rows,
             |    count(l_returnflag) AS n_flag,
             |    count(DISTINCT l_orderkey * 8 + l_linenumber) AS n_pk,
             |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_qty_oob,
             |    CAST(SUM(CASE WHEN l_extendedprice <= 0
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_price_bad,
             |    CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_bad
             |  FROM lineitem
             |),
             |o AS (
             |  SELECT count(*) AS n_orphan FROM lineitem l
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM orders WHERE o_orderkey = l.l_orderkey)
             |),
             |b AS (SELECT * FROM m, o)
             |SELECT 'completeness_l_returnflag' AS check_name,
             |  CAST(n_flag AS DOUBLE) / n_rows AS metric,
             |  n_flag = n_rows AS passed FROM b
             |UNION ALL SELECT 'uniqueness_pk',
             |  CAST(n_pk AS DOUBLE) / n_rows, n_pk = n_rows FROM b
             |UNION ALL SELECT 'bounds_l_quantity',
             |  CAST(n_qty_oob AS DOUBLE), n_qty_oob = 0 FROM b
             |UNION ALL SELECT 'positivity_l_extendedprice',
             |  CAST(n_price_bad AS DOUBLE), n_price_bad = 0 FROM b
             |UNION ALL SELECT 'domain_l_returnflag',
             |  CAST(n_flag_bad AS DOUBLE), n_flag_bad = 0 FROM b
             |UNION ALL SELECT 'ref_integrity_orderkey',
             |  CAST(n_orphan AS DOUBLE), n_orphan = 0 FROM b
             |ORDER BY check_name""".stripMargin),
      bench = false)
  )
}
