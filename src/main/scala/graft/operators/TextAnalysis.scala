package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.util.Stage.StageOps

/** Text-pipeline primitives for large-scale corpus curation: tokenization,
  * normalization, fingerprinting, quality scoring, language ID heuristics.
  * All pure Column expressions (codegen'd built-ins) — no UDFs, so they
  * vectorize inside whole-stage codegen and push through Catalyst intact.
  */
object TextAnalysis {

  /** Whitespace tokens of the trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Lowercased, whitespace-collapsed canonical form (normalization dedup key). */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** 128-bit content fingerprint of the normalized text (hex md5). */
  def fingerprint(text: Column): Column = md5(normalize(text).cast("binary"))

  /** Distinct word k-shingles ("w1 w2 w3") — the unit set for Jaccard /
    * MinHash near-dup detection. Empty array when the doc is shorter
    * than k tokens. Native codegen expression — the HOF formulation
    * (`transform` + `slice` + `concat_ws`) is interpreted and costs
    * ~1 ms/doc. */
  def wordShingles(text: Column, k: Int): Column =
    graft.functions.VectorExpressions.wordShingles(text, k)

  /** Jaccard similarity of two (not necessarily distinct) string arrays,
    * over their DISTINCT elements. */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    val union = size(array_union(da, db)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Heuristic quality features + score (length, word shape, punctuation).
    * Returns a struct; callers select the fields they need.
    *
    * Counting backend (round 8): ONE byte-scan kernel
    * ([[graft.functions.VectorOps.qualityCounts]]) instead of the
    * original `length(regexp_replace(...))` ×2 + `size(split(...))`
    * chain — same values bit-for-bit ([[TextAnalysisSpec]] pins the
    * parity on adversarial inputs), ~10× cheaper per row: quality
    * scoring was the whole cost of curation_quota_sample at the 100×
    * slice (50 s → regex-bound). CollapseProject re-inlines the struct
    * per referenced field; the kernel is cheap enough that the repeated
    * scan still beats one regex pass (the QuantStats precedent). */
  def qualityFeatures(text: Column): Column = {
    val qc = graft.functions.VectorExpressions.qualityCounts(text)
    val nChars = qc.getField("n_chars").cast("double")
    val nTokens = qc.getField("n_tokens").cast("double")
    val lettersOnly = (qc.getField("n_chars") - qc.getField("n_ws")).cast("double")
    val avgWordLen = when(nTokens > 0, lettersOnly / nTokens).otherwise(lit(0.0))
    val punct = (qc.getField("n_chars") - qc.getField("n_alnum") -
      qc.getField("n_ws")).cast("double")
    val punctRatio = when(nChars > 0, punct / nChars).otherwise(lit(0.0))
    val score =
      lit(1.0) / (lit(1.0) + exp(-(lit(0.01) * nTokens + lit(1.0) * avgWordLen
        - lit(20.0) * punctRatio - lit(3.0))))
    struct(
      nChars.cast("long").as("n_chars"),
      nTokens.cast("long").as("n_tokens"),
      avgWordLen.as("avg_word_len"),
      punctRatio.as("punct_ratio"),
      score.as("quality_score"))
  }

  /** Tiny public stopword profiles for the n-gram/stopword langid
    * heuristic. Prediction = the profile hit by most of the doc's DISTINCT
    * tokens (ties broken by language code, deterministic). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "was", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den", "von", "sich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour", "qui", "des"),
    "es" -> Seq("el", "los", "de", "que", "y", "en", "un", "es", "por", "con", "una", "para"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这", "个", "们"))

  /** Predicted language code = argmax score (deterministic tie-break on
    * the language code via struct ordering). */
  def langPredict(text: Column): Column = {
    val toks = array_distinct(tokens(lower(text)))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (langCode, words) =>
      struct(
        size(array_intersect(toks, array(words.map(lit): _*))).as("hits"),
        lit(langCode).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  /** Full BPE TRAINING loop as relational dataflow: learn `merges` merge
    * rules over the corpus. Classic trainer compression — work on DISTINCT
    * words weighted by frequency, pieces start as single characters; each
    * round counts adjacent-piece pairs corpus-wide (overlapping pairs
    * count, as in the standard algorithm), picks the most frequent pair
    * (ties broken lexicographically via struct max — deterministic), and
    * applies it with GREEDY LEFT-TO-RIGHT semantics ("aaa" + rule (a,a)
    * → ["aa","a"]).
    *
    * The greedy application — inherently sequential per word — is
    * expressed purely with word-partitioned window functions: a running
    * count of candidate positions (`crn`), maximal consecutive candidate
    * runs keyed by `pos - crn` (constant within a run, strictly increasing
    * across gaps), and merge-parity `(crn - min(crn) over run) % 2 = 0`
    * (every other candidate of a run merges, the standard greedy
    * resolution of self-overlapping pairs). Consumed right-halves drop via
    * `lag(merged)`; positions re-densify with `row_number`.
    *
    * Scale: state is (distinct words × pieces), shrinking every round;
    * all windows partition by word (bounded), pair counting is one
    * partial+final aggregate, and each round's winning pair is the only
    * driver-side datum (one row, like the EM parameters). The driver loop
    * checkpoints per round to truncate lineage — the same fixpoint shape
    * as connectedComponents and EM.fitLoop.
    *
    * Returns the learned merge table (iter, lhs, rhs, cnt), iter 1-based;
    * stops early if no adjacent pairs remain. */
  def bpeTrainMerges(docs: org.apache.spark.sql.DataFrame, textCol: Column,
      merges: Int): org.apache.spark.sql.DataFrame =
    bpeTrain(docs, textCol, merges)._1

  /** BPE ENCODE statistics: per document, whitespace word count and total
    * piece count under the vocabulary learned by `merges` rounds of
    * [[bpeTrainMerges]] on the SAME corpus — the tokenizer-apply step
    * (token budgeting, compression-ratio audits). The learned
    * pieces-per-word table is vocabulary-sized; Catalyst/AQE picks the
    * join strategy back to the exploded corpus (broadcast while the vocab
    * fits, shuffle join beyond). Pure integer counts — oracle-exact. */
  def bpeEncodeStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: Column, merges: Int): org.apache.spark.sql.DataFrame = {
    val pieces = bpeTrain(docs, textCol, merges)._2
    val wp = pieces.groupBy(col("word")).agg(count(lit(1)).as("n_pieces_w"))
    docs.select(col(idCol).as("doc_id"),
        explode(split(trim(textCol), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .join(wp, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_pieces_w")).as("n_pieces"))
  }

  /** Full BPE TOKENIZATION: per document, the complete piece sequence
    * (space-joined, document order) under the vocabulary learned by
    * `merges` rounds of [[bpeTrainMerges]] on the SAME corpus — the
    * tokenizer-apply step that actually materializes training sequences,
    * not just their counts ([[bpeEncodeStats]]).
    *
    * Dataflow: tokenization is per-WORD, so the corpus-scale work is one
    * join from the exploded (doc, word-position, word) stream to the
    * vocabulary-sized word→pieces table (broadcast while it fits), then a
    * per-doc reassembly aggregate. Order inside the aggregate is made
    * deterministic by sorting collected (pos, piece) structs — no
    * reliance on collect_list order. */
  def bpeTokenize(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: Column, merges: Int): org.apache.spark.sql.DataFrame = {
    val pieces = bpeTrain(docs, textCol, merges)._2
    val wp = pieces.groupBy(col("word")).agg(
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("piece")))),
        _.getField("piece"))).as("wpieces"),
      count(lit(1)).as("n_pieces_w"))
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(trim(textCol), "\\s+")).as(Seq("wpos", "word")))
      .where(length(col("word")) > 0)
      .join(wp, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("wpos"), col("wpieces")))),
          _.getField("wpieces"))).as("pieces_text"),
        sum(col("n_pieces_w")).as("n_pieces"))
  }

  private def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: Column,
      merges: Int): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(split(trim(textCol), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    var pieces = words
      .select(col("word"), col("freq"),
        explode(sequence(lit(0), length(col("word")) - 1)).as("pos"))
      .withColumn("piece", col("word").substr(col("pos") + 1, lit(1)))
      .stageCheckpoint()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    val wOrd = Window.partitionBy(col("word")).orderBy(col("pos"))
    var t = 1
    var exhausted = false
    while (t <= merges && !exhausted) {
      val paired = pieces.withColumn("nxt", lead(col("piece"), 1).over(wOrd))
      val bRow = paired.where(col("nxt").isNotNull)
        .groupBy(col("piece").as("l"), col("nxt").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .agg(max(struct(col("cnt"), col("l"), col("r"))).as("b"))
        .select(col("b.cnt"), col("b.l"), col("b.r"))
        .head()
      if (bRow.isNullAt(0)) exhausted = true
      else {
        val (cnt, bl, br) = (bRow.getLong(0), bRow.getString(1), bRow.getString(2))
        learned += ((t, bl, br, cnt))
        val marked = paired
          .withColumn("cand", col("nxt").isNotNull &&
            col("piece") === lit(bl) && col("nxt") === lit(br))
          .withColumn("crn",
            sum(when(col("cand"), 1).otherwise(0)).over(wOrd))
          .withColumn("runkey", when(col("cand"), col("pos") - col("crn")))
        val wRun = Window.partitionBy(col("word"), col("runkey"))
        val mg = marked.withColumn("merged",
          col("cand") && pmod(
            col("crn") - min(when(col("cand"), col("crn"))).over(wRun),
            lit(2)) === 0)
        pieces = mg
          .withColumn("consumed",
            coalesce(lag(col("merged"), 1).over(wOrd), lit(false)))
          .where(!col("consumed"))
          .select(col("word"), col("freq"),
            (row_number().over(wOrd) - 1).cast("int").as("pos"),
            when(col("merged"), concat(col("piece"), col("nxt")))
              .otherwise(col("piece")).as("piece"))
          .stageCheckpoint()
        t += 1
      }
    }
    (learned.toSeq.toDF("iter", "lhs", "rhs", "cnt"), pieces)
  }
}
