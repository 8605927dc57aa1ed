package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Stage.StageOps

/** Training-corpus curation operators beyond dedup/similarity: sequence
  * packing, stratified sampling, PII scrubbing, and near-dup cluster
  * resolution. All are declarative Column/DataFrame transforms (window
  * aggregates, hash predicates, regex built-ins) except connected
  * components, which is an iterative driver loop of joins — the shape
  * Spark uses for any fixpoint computation (cf. GraphX's CC; reference
  * has the same driver-loop pattern for EM, Main.scala:72-89).
  */
object Curation {

  /** Capacity-quantized sequence packing: documents ordered by `orderCol`
    * within each `shardCol` partition are assigned to fixed-`budget`
    * token packs; a document's pack is `floor(cum_tokens_before/budget)`.
    *
    * One window cumulative sum — no sequential scan. True first-fit
    * packing is inherently order-sequential; quantized packing is the
    * scalable compromise (a document straddling a boundary overflows its
    * pack by < its own length). At 100 TB the shard column (here: lang)
    * bounds each window's partition, so packing parallelizes per shard.
    *
    * CONTRACT: `orderCol` must be a TOTAL order within each shard (a
    * unique id). Ties would make the cumulative sum — and every pack
    * assignment after the tie — depend on the engine's arbitrary tie
    * order (the window_running_sum flake class; both catalog callers
    * pass doc_id).
    */
  def packSequences(
      docs: DataFrame, tokenCol: Column, shardCol: Column, orderCol: Column,
      budget: Int): DataFrame = {
    val w = Window.partitionBy(shardCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tokens", tokenCol.cast("long"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("cum_before") / lit(budget)).cast("long"))
      .withColumn("offset_in_pack", col("cum_before") % lit(budget.toLong))
      .drop("cum_before")
  }

  /** Deterministic per-stratum sampling: keep a row iff its multiplicative
    * hash unit-uniform `u(id) = ((id*2654435761 + seed) mod 2^32) / 2^32`
    * is below the stratum's rate. Unlike `DataFrame.sampleBy` (RNG per
    * partition), this is reproducible across runs, partitionings and
    * engines — the property a curation pipeline needs for auditable
    * subsets. Unknown strata default to rate 0.
    *
    * `pmod` (not signed `%`) keeps u in [0,1) for ALL long ids and seeds:
    * the multiply may wrap Java's two's-complement long, but wrap is
    * arithmetic mod 2^64 and 2^32 divides 2^64, so
    * `pmod(wrapped, 2^32) == (id*K + seed) mod 2^32` exactly — whereas
    * signed `%` went negative past id ~3.46e9 (or for negative ids) and a
    * negative u passed `u < rate` in every stratum, rate-0 included. */
  /** Unit-uniform deterministic hash `u(id) ∈ [0,1)` — the auditable
    * replacement for per-partition RNG sampling (see [[stratifiedSample]]). */
  def hashU(idCol: Column, seed: Long): Column =
    pmod(idCol.cast("long") * lit(2654435761L) + lit(seed),
      lit(4294967296L)).cast("double") / lit(4294967296.0)

  def stratifiedSample(
      df: DataFrame, idCol: Column, strataCol: Column,
      rates: Map[String, Double], seed: Long): DataFrame = {
    val rateMap = map(rates.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    df.withColumn("u", hashU(idCol, seed))
      .where(col("u") < coalesce(element_at(rateMap, strataCol), lit(0.0)))
  }

  /** Exact-k uniform sample: the k rows with the smallest [[hashU]]
    * values (ties broken by id). Unlike rate-based sampling the output
    * size is exactly min(k, n); unlike `RDD.takeSample` it is
    * deterministic and engine-portable. Plans as TakeOrderedAndProject —
    * per-partition top-k then a k-row driver merge, never a full sort —
    * so it scales to arbitrarily large inputs with k-bounded memory. */
  def exactKSample(df: DataFrame, idCol: Column, k: Int, seed: Long): DataFrame =
    df.withColumn("u", hashU(idCol, seed))
      .orderBy(col("u"), idCol)
      .limit(k)

  /** Weighted sample WITHOUT replacement (Efraimidis–Spirakis A-ES): each
    * row draws key `u^(1/w)` from its deterministic uniform u and weight
    * w > 0; the k largest keys are the sample — inclusion probability
    * proportional to weight, single pass, top-k-bounded memory.
    *
    * The key is presentation-rounded ([[graft.util.Det.fixed]], 9
    * decimals) so the cross-engine 1-ulp `pow` wobble cannot reorder
    * rows; id breaks exact key ties deterministically. Zero/negative
    * weights are excluded (they can never be sampled). */
  def weightedSample(
      df: DataFrame, idCol: Column, weightCol: Column, k: Int,
      seed: Long): DataFrame = {
    val key = graft.util.Det.fixed(
      pow(hashU(idCol, seed), lit(1.0) / weightCol.cast("double")), 9)
    df.where(weightCol.cast("double") > 0)
      .withColumn("skey", key)
      .orderBy(col("skey").desc, idCol)
      .limit(k)
  }

  /** Deterministic train/validation/test assignment: named splits with
    * fractions (summing to ≤ 1; any remainder falls to `restName`),
    * assigned by cumulative-boundary lookup on [[hashU]] — the standard
    * "split by hash, never by position" rule that keeps membership stable
    * under reordering, repartitioning, and incremental appends. */
  def assignSplits(
      df: DataFrame, idCol: Column, splits: Seq[(String, Double)],
      seed: Long, restName: String = "rest"): DataFrame = {
    val u = hashU(idCol, seed)
    val bounds = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val assign = splits.zip(bounds).foldLeft(Option.empty[Column]) {
      case (None, ((name, _), b)) => Some(when(u < lit(b), lit(name)))
      case (Some(c), ((name, _), b)) => Some(c.when(u < lit(b), lit(name)))
    }.get.otherwise(lit(restName))
    df.withColumn("u", u).withColumn("split", assign)
  }

  /** Leakage-free (cluster-safe) split assignment: every member of a
    * duplicate group lands in the SAME split. Splitting independent rows
    * by [[assignSplits]] leaks when the corpus has duplicates or
    * near-duplicates — copies of one document straddle train and test
    * and the eval set is contaminated (the train/test-leak failure mode
    * `crossCorpusOverlap` measures after the fact; this prevents it at
    * assignment time). The split key is the GROUP representative
    * `min(idCol) per groupCol` — pass any grouping label: a content
    * fingerprint for exact dupes, a [[connectedComponents]] cluster_id
    * for near-dup clusters. The whole group hashes as one unit, so
    * membership stays stable under reordering, repartitioning, and
    * appends that don't change the group (the assignSplits contract
    * lifted to groups).
    *
    * Scale: one group-partitioned window (never global) for the
    * representative; the hash-boundary lookup is per-row arithmetic. */
  def clusterSafeSplits(
      df: DataFrame, idCol: Column, groupCol: Column,
      splits: Seq[(String, Double)], seed: Long,
      restName: String = "rest"): DataFrame = {
    val withCid = df.withColumn("cluster_id",
      min(idCol).over(Window.partitionBy(groupCol)))
    assignSplits(withCid, col("cluster_id"), splits, seed, restName)
  }

  /** Domain-mixture resampling — reshape a corpus toward TARGET domain
    * proportions (the "data mixing" step of a training pipeline: e.g. cap
    * web crawl at 60%, upweight code to 20%). For each domain d with n_d
    * rows out of N total, the kept fraction is
    * `rate_d = min(1, share_d · totalFraction · N / n_d)` — so the output
    * approximates `totalFraction · N` rows distributed per `targetShares`
    * (domains too small to fill their share saturate at rate 1, i.e. no
    * upsampling-with-replacement). Row selection is the same deterministic
    * [[hashU]] predicate as [[stratifiedSample]] — reproducible across
    * runs, partitionings, and engines. Domains absent from `targetShares`
    * get share 0 (dropped).
    *
    * Scale: per-domain counts come from a groupBy (output = #domains
    * rows), the grand total from a 1-row aggregate cross-joined in, and
    * the rate table joins back BROADCAST — no global window, no driver
    * collect; the big side streams through one hash-filter. */
  /** [[mixtureSample]] in TOKEN mass instead of document count — the
    * form training mixes are actually specified in ("20% code tokens"),
    * which differs materially when domains have very different document
    * lengths. For domain d with token mass w_d out of W total, the kept
    * fraction is `rate_d = min(1, share_d · totalFraction · W / w_d)`,
    * and because selection stays the per-document [[hashU]] predicate
    * (length-independent), the EXPECTED kept token mass per domain is
    * `share_d · totalFraction · W` — the standard expectation argument;
    * exact-mass packing would need a sequential scan. Same plan shape:
    * one weights groupBy, broadcast rate table, one hash-filter pass. */
  def mixtureSampleWeighted(
      df: DataFrame, idCol: Column, domainCol: Column, weightCol: Column,
      targetShares: Map[String, Double], totalFraction: Double,
      seed: Long): DataFrame = {
    val shareMap = map(targetShares.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val weights = df.groupBy(domainCol.as("dom"))
      .agg(sum(weightCol.cast("long")).as("w_dom"))
      .stageShare()
    val total = weights.agg(sum(col("w_dom")).as("w_total"))
    val rates = weights.crossJoin(broadcast(total))
      .withColumn("share", coalesce(element_at(shareMap, col("dom")), lit(0.0)))
      .withColumn("rate", least(lit(1.0),
        col("share") * lit(totalFraction) * col("w_total").cast("double")
          / col("w_dom").cast("double")))
      .select(col("dom"), col("w_dom"), col("rate"))
    df.join(broadcast(rates), domainCol === col("dom"))
      .withColumn("u", hashU(idCol, seed))
      .where(col("u") < col("rate"))
      .drop("dom")
  }

  def mixtureSample(
      df: DataFrame, idCol: Column, domainCol: Column,
      targetShares: Map[String, Double], totalFraction: Double,
      seed: Long): DataFrame = {
    val shareMap = map(targetShares.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    // counts (#domains rows) feeds the grand total AND the rate table —
    // shared so the corpus count aggregation runs once
    val counts = df.groupBy(domainCol.as("dom"))
      .agg(count(lit(1)).as("n_dom"))
      .stageShare()
    val total = counts.agg(sum(col("n_dom")).as("n_total"))
    val rates = counts.crossJoin(broadcast(total))
      .withColumn("share", coalesce(element_at(shareMap, col("dom")), lit(0.0)))
      .withColumn("rate", least(lit(1.0),
        col("share") * lit(totalFraction) * col("n_total").cast("double")
          / col("n_dom").cast("double")))
      .select(col("dom"), col("n_dom"), col("rate"))
    df.join(broadcast(rates), domainCol === col("dom"))
      .withColumn("u", hashU(idCol, seed))
      .where(col("u") < col("rate"))
      .drop("dom")
  }

  /** PII scrubbing patterns — conservative regexes that parse identically
    * under Java regex (Spark codegen) and RE2 (DuckDB oracle). */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlRe = "https?://[^\\s]+"
  val phoneRe = "\\+?[0-9]{1,2} [0-9]{3}-[0-9]{4}"

  /** Replace URLs, then emails, then phone numbers with placeholder
    * tokens (order matters: an email inside a URL must scrub as URL).
    * Pure regexp_replace chain — codegen'd, no UDF. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, urlRe, "<URL>"),
        emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  /** Connected components over undirected `edges(a, b)` restricted to
    * `nodes(node)`: iterative min-label propagation to fixpoint
    * (label(n) := min(label(n), min over neighbors' labels); O(diameter)
    * rounds). Returns (node, cluster_id = min node id of the component).
    *
    * Each round is one shuffle join + partial aggregate; `localCheckpoint`
    * truncates the growing lineage. For large-diameter graphs use
    * [[connectedComponentsStar]] — the Kiveris et al. large-star/small-
    * star alternation, O(log n) rounds instead of O(diameter). */
  def connectedComponents(edges: DataFrame, nodes: DataFrame, maxIter: Int = 25): DataFrame = {
    val sym = edges.select(col("a").as("x"), col("b").as("y"))
      .union(edges.select(col("b").as("x"), col("a").as("y")))
      .stageCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("lab")).stageCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym.join(labels.withColumnRenamed("node", "y"), Seq("y"))
        .groupBy(col("x")).agg(min(col("lab")).as("nbr_lab"))
        .withColumnRenamed("x", "node")
      val next = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("lab"), coalesce(col("nbr_lab"), col("lab"))).as("lab"))
        .stageCheckpoint()
      changed = next.join(labels.withColumnRenamed("lab", "old"), Seq("node"))
        .where(col("lab") =!= col("old")).count()
      labels = next
      iter += 1
    }
    labels.withColumnRenamed("lab", "cluster_id")
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the O(log n)-round variant of [[connectedComponents]] for
    * large-diameter graphs, where min-label propagation needs O(diameter)
    * sequential jobs (a 60-hop near-dup chain = 60 shuffles).
    *
    * Per round, on a canonical edge set (u > v):
    *  - large-star: every node attaches its STRICTLY LARGER neighbors to
    *    m = min(N(u) ∪ {u}) — long tails fold up in one hop;
    *  - small-star: every node attaches its smaller neighbors and itself
    *    to the group min — stars flatten.
    * The edge set is a fixpoint exactly when every component is a star
    * centered at its min node; labels read off as the star centers.
    * Same (node, cluster_id) contract as [[connectedComponents]]. */
  def connectedComponentsStar(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // carried across rounds: |e| is last round's |ss|, so one count
    // action per round suffices (the fixpoint check is count-equality
    // with a short-circuited except, see below). checkpointWith fuses
    // the lineage-truncating materialization and that count into ONE
    // job per round (round 12 — was an eager checkpoint job + a count
    // job over the same blocks).
    var (e, eCount) = graft.util.Stage.checkpointWith(edges
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())(_.count())
    var stable = eCount == 0L
    var iter = 0
    while (!stable && iter < maxIter) {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val minsL = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // No mid-iteration distinct on ls (round 12): duplicates — node v
      // reached through several edges of one min-cluster — leave minsS's
      // min unchanged and collapse in ss's OWN distinct, so the early
      // dedup bought nothing but an extra exchange + aggregate per
      // iteration. Scale note: the ss distinct's map-side partial
      // aggregate caps surviving duplicates at one per partition per
      // (u, v), so a hot hub's degree never crosses the exchange.
      val ls = sym.join(minsL, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      val minsS = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val (ss, ssCount) = graft.util.Stage.checkpointWith(
        ls.join(minsS, Seq("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(minsS.select(col("u"), col("m").as("v")))
          .where(col("u") =!= col("v")).distinct())(_.count())
      // both sides are distinct sets: equal counts + empty one-sided
      // difference ⇔ fixpoint (&& short-circuits: the except job only
      // runs in the rare counts-equal rounds)
      stable = ssCount == eCount && ss.exceptAll(e).isEmpty
      e = ss
      eCount = ssCount
      iter += 1
    }
    // At the fixpoint every non-center node has exactly ONE star edge;
    // if maxIter exhausted mid-convergence a node may still carry
    // several candidate centers — take the min so the one-row-per-node
    // contract holds unconditionally (labels are then stale the same
    // way the min-label variant's are, never structurally duplicated).
    val centers = e.groupBy(col("u").as("node")).agg(min(col("v")).as("ctr"))
    nodes.join(centers, Seq("node"), "left")
      .select(col("node"), coalesce(col("ctr"), col("node")).as("cluster_id"))
  }

  /** INCREMENTAL connected components: fold a DELTA of new edges into an
    * existing `(node, cluster_id)` labeling without re-clustering the
    * corpus — the operating mode of a standing dedup pipeline (new crawl
    * snapshot arrives; only the touched clusters move). Produces the
    * same labeling as a batch CC over (labeled components ∪ newEdges),
    * including brand-new nodes that appear only in the delta.
    *
    * Cost ∝ |delta|, NOT corpus: new-edge endpoints look their label up
    * against the corpus labeling (one join where the delta side is the
    * broadcastable one), the delta collapses to a QUOTIENT graph over
    * cluster labels (≤ 2·|delta| nodes — two labels connect iff some new
    * edge connects their clusters), [[connectedComponentsStar]] runs on
    * that tiny graph, and the resulting label→label remap (only moved
    * labels) broadcasts back over the corpus labeling — the big table is
    * scanned once and never shuffled.
    *
    * Determinism: min-node-id labeling end-to-end, so the result is
    * bit-identical to the batch recompute (the catalog query's oracle IS
    * the full-graph transitive closure). Contract: `labels` must be a
    * consistent labeling (cluster_id = min node id of each component,
    * every member present) — i.e. the output of either batch CC here. */
  def incrementalConnectedComponents(
      labels: DataFrame, newEdges: DataFrame): DataFrame = {
    // endpoint labels: known nodes → their cluster, unseen → own id.
    // endLab is delta-sized with two consumers (quotient edges ×2 sides,
    // unseen detection) — shared per the Stage.share rule (agg/join
    // derived, tiny).
    val ends = newEdges.select(col("a").as("node"))
      .union(newEdges.select(col("b").as("node"))).distinct()
    val endLab = ends.join(labels, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("cluster_id"), col("node")).as("lab"))
      .stageShare()
    val qEdges = newEdges
      .join(endLab.select(col("node").as("a"), col("lab").as("la")), Seq("a"))
      .join(endLab.select(col("node").as("b"), col("lab").as("lb")), Seq("b"))
      .select(col("la").as("a"), col("lb").as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val qNodes = endLab.select(col("lab").as("node")).distinct()
    val q = connectedComponentsStar(qEdges, qNodes)
      .stageShare() // consumed by the remap AND the unseen-node labeling
    // only labels that MOVED ship back over the corpus (broadcast-sized)
    val remap = q.where(col("node") =!= col("cluster_id"))
      .select(col("node").as("_old"), col("cluster_id").as("_new"))
    val updated = labels
      .join(broadcast(remap), labels("cluster_id") === col("_old"), "left")
      .select(labels("node"),
        coalesce(col("_new"), labels("cluster_id")).as("cluster_id"))
    val unseen = endLab.join(labels.select(col("node")), Seq("node"), "left_anti")
      .join(broadcast(q.select(col("node").as("lab"),
        col("cluster_id").as("_cl"))), Seq("lab"))
      .select(col("node"), col("_cl").as("cluster_id"))
    updated.unionByName(unseen)
  }

  /** Representative per cluster: argmax of `qualityCol` with a MIN-NODE
    * tie-break, via the deterministic struct-max aggregate (one grouped
    * agg over the labeled nodes — no per-cluster window over the
    * corpus). Input carries (node, cluster_id, qualityCol); output is
    * every input row plus (keep_id, kept). The reps relation is joined
    * by HASH, never broadcast — one row per cluster is corpus-scale. */
  def bestInCluster(labeled: DataFrame, qualityCol: String): DataFrame = {
    val reps = labeled.groupBy(col("cluster_id"))
      .agg(max(struct(col(qualityCol), (-col("node")).as("negid"))).as("b"))
      .select(col("cluster_id"), (-col("b.negid")).as("keep_id"))
    labeled.join(reps, Seq("cluster_id"))
      .withColumn("kept", col("node") === col("keep_id"))
  }

  /** Model-based quality scoring with a hashed linear classifier — the
    * fasttext-style quality filter of training pipelines (score a document
    * by a linear model over hashed bag-of-words features), expressed as
    * pure dataflow: explode tokens, feature-hash each token, look the
    * weight up ARITHMETICALLY (weight table = a function of the hash, so
    * no join), and average per document.
    *
    * The feature hash is the md5-derived 60-bit value (cross-engine:
    * DuckDB computes the identical integer), the "learned" weight for
    * bucket b is the integer `(b mod dim) − dim/2` ∈ [−dim/2, dim/2] —
    * a deterministic stand-in for trained weights, stored nowhere. Real
    * deployments swap `weightOf` for a broadcast-joined weight table of
    * `dim` rows; the dataflow (explode → hash → sum/count per doc) is
    * unchanged. Integer weight sums are order-free, so the score —
    * `Σ w / ((dim/2) · n_tokens)` ∈ [−1, 1] — is oracle-exact.
    *
    * Scale: one explode (rows × tokens) and one doc-keyed partial+final
    * hash aggregate; no shuffle wider than the doc id. */
  def qualityClassifierScore(
      docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 2001): DataFrame = {
    val half = dim / 2
    // explode_outer + count(tok): `split` yields >= 1 element for any
    // non-null text and a NULL-text doc survives as one NULL token row,
    // so every doc reaches the aggregate — no join back to the corpus
    // (the aggregated side is O(docs): it would not broadcast at scale).
    val tok = docs.select(col(idCol).as("doc_id"),
      explode_outer(split(trim(col(textCol)), "\\s+")).as("tok"))
    val h = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
    val w = pmod(h, lit(dim.toLong)) - lit(half.toLong)
    tok
      .select(col("doc_id"), w.as("w"))
      .groupBy(col("doc_id"))
      .agg(count(col("w")).as("n_tokens"),
        coalesce(sum(col("w")), lit(0L)).as("w_sum"))
      .withColumn("score", when(col("n_tokens") > 0,
        col("w_sum").cast("double")
          / (lit(half.toDouble) * col("n_tokens").cast("double")))
        .otherwise(lit(0.0)))
      .withColumn("keep", col("score") > 0)
  }

  /** Train/test decontamination: for every train document, the test
    * document sharing the most distinct word k-shingles, as an overlap
    * fraction of the train doc's own shingle set. The standard
    * "benchmark leaked into the training corpus" check.
    *
    * Dataflow: explode distinct shingles per side (native
    * [[TextAnalysis.wordShingles]] kernel), equi-join on the shingle,
    * count shared per (train, test) pair, keep each train doc's
    * lexicographic max (shared, test_id) — deterministic tie-break —
    * and left-join back so clean docs survive with overlap 0.
    *
    * Scale: the shuffle/join key is xxhash64(shingle) — 8-byte rows
    * instead of ~6k-char strings (the [[graft.operators.Dedup]] span-key
    * recipe; collision odds ~n²/2⁶⁴ and a collision only perturbs one
    * overlap count). The test side is usually the benchmark suite —
    * small enough to auto-broadcast. The output is O(|train|). */
  def crossCorpusOverlap(
      train: DataFrame, test: DataFrame,
      idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5): DataFrame = {
    // trainSh has two consumers (per-doc totals + the overlap join) but
    // is a map-only explode+hash LARGER than its source text — by the
    // Stage.share rule the codegen'd recompute beats a cache round-trip
    // at two consumers (measured neutral at sf0.1)
    val trainSh = train.select(col(idCol).as("train_id"),
        explode(TextAnalysis.wordShingles(col(textCol), k)).as("s0"))
      .select(col("train_id"), xxhash64(col("s0")).as("s"))
    val testSh = test.select(col(idCol).as("test_id"),
        explode(TextAnalysis.wordShingles(col(textCol), k)).as("s0"))
      .select(col("test_id"), xxhash64(col("s0")).as("s"))
    val nSh = trainSh.groupBy(col("train_id")).agg(count(lit(1)).as("n_sh"))
    val best = trainSh.join(testSh, Seq("s"))
      .groupBy(col("train_id"), col("test_id"))
      .agg(count(lit(1)).as("shared"))
      .groupBy(col("train_id"))
      .agg(max(struct(col("shared"), col("test_id"))).as("b"))
      .select(col("train_id"), col("b.shared").as("shared"),
        col("b.test_id").as("best_test_id"))
    // Coalesced BEFORE the ratio so clean docs (no shared shingles) and
    // short docs (< k tokens, n_sh = 0) get overlap_frac 0.0, not NULL —
    // the "clean docs survive with overlap 0" contract.
    val nShC = coalesce(col("n_sh"), lit(0L))
    val sharedC = coalesce(col("shared"), lit(0L))
    val frac = when(nShC > 0,
      sharedC.cast("double") / nShC.cast("double")).otherwise(lit(0.0))
    train.select(col(idCol).as("train_id"))
      .join(nSh, Seq("train_id"), "left")
      .join(best, Seq("train_id"), "left")
      .select(
        col("train_id"),
        nShC.as("n_sh"),
        sharedC.as("shared"),
        col("best_test_id"),
        frac.as("overlap_frac"),
        (frac >= threshold).as("contaminated"))
  }

  /** Cross-source contamination matrix: for every unordered source pair
    * (a < b), how many distinct word-k-shingles they share, each side's
    * distinct total, both containment directions ("this fraction of A's
    * n-grams also appears in B") and the shingle-set Jaccard — the
    * corpus-mixing diagnostic run before blending crawl snapshots /
    * dumps into one training set.
    *
    * Dataflow: one distinct over (source, shingle-hash) — 8-byte
    * xxhash64 keys, the [[crossCorpusOverlap]] recipe — then ONE
    * aggregation per hash collecting the source set, pairs expanded
    * from the sorted array IN PLACE. Deliberately not a shingle-keyed
    * self-join: corpus-wide shingles (stopword n-grams) appear in
    * every source, so the self-join's hottest keys produce |sources|²
    * rows per shingle under a skewed shuffle, whereas the collect_set
    * group is bounded at |sources| elements per hash by construction.
    * Everything after the per-hash aggregate is O(|sources|²) — the
    * totals join is a broadcast of |sources| rows. The full matrix
    * (including zero-overlap pairs) is emitted so the output schema is
    * data-independent. */
  def sourceOverlapMatrix(
      docs: DataFrame, sourceCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    // The scan→shingle→distinct pipeline is the corpus-scale work and
    // has THREE consumers (both totals sides + the pair expansion):
    // staged once so the plan runs it once — unstaged, each consumer
    // re-derived it from the raw scan (3× the dominant cost). totals is
    // |sources| rows; staging it too makes ta/tb broadcast reads of one
    // tiny materialized table instead of two more aggregations over sh.
    val sh = docs.select(col(sourceCol).as("src"),
        explode(graft.operators.TextAnalysis.wordShingles(col(textCol), k))
          .as("s0"))
      .select(col("src"), xxhash64(col("s0")).as("s"))
      .distinct()
      .stageShare()
    val totals = sh.groupBy(col("src")).agg(count(lit(1)).as("n"))
      .stageShare()
    // per-hash source set (≤ |sources| elements), ordered pairs expanded
    // from the sorted array: x at index i pairs with every later element
    val srcs = col("srcs")
    val pairs = sh.groupBy(col("s"))
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .select(explode(flatten(transform(srcs, (x, i) =>
        transform(slice(srcs, i + lit(2), size(srcs)), y =>
          struct(x.as("src_a"), y.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    val ta = totals.select(col("src").as("src_a"), col("n").as("n_a"))
    val tb = totals.select(col("src").as("src_b"), col("n").as("n_b"))
    val sharedC = coalesce(col("shared"), lit(0L))
    ta.join(tb, col("src_a") < col("src_b"))
      .join(pairs, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), sharedC.as("shared"),
        col("n_a"), col("n_b"),
        (sharedC.cast("double") / col("n_a").cast("double"))
          .as("containment_a"),
        (sharedC.cast("double") / col("n_b").cast("double"))
          .as("containment_b"),
        (sharedC.cast("double")
          / (col("n_a") + col("n_b") - sharedC).cast("double"))
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }
}
