package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.util.Det
import graft.util.Stage.StageOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-corpus curation queries over `documents` (SURVEY.md §7.6 +
  * the training-data-pipeline mandate): token/quality stats, language ID,
  * fingerprinting, exact + MinHash-LSH + SimHash dedup, n-gram Jaccard.
  */
object DocQueries {

  /** ONE constant for text_pmi_pairs' vocabulary df-floor AND its pair
    * support filter (Spark side + oracle HAVING): the floor's
    * "results identical" guarantee is exactly floor <= support
    * (dfab <= min(dfa, dfb)) — separate literals would let someone lower
    * the support and silently lose pairs. */
  private val pmiMinSupport = 5

  /** Chained-CTE DuckDB oracle for [[TextAnalysis.bpeTrainMerges]]: one
    * CTE block per merge round — pair counts → struct-max best pair →
    * candidate marking + greedy run parity → rebuild. Mirrors the Spark
    * window formulation operation-for-operation; everything is integer
    * counts and string concatenation, so the match is exact by
    * construction. */
  private def bpeTrainOracleSql(merges: Int): String = {
    val chain = (1 to merges).map(bpeIterSql).mkString(",\n")
    val out = (1 to merges).map(t =>
      s"SELECT $t AS iter, struct_extract(b, 'l') AS lhs, " +
        s"struct_extract(b, 'r') AS rhs, " +
        s"CAST(struct_extract(b, 'cnt') AS BIGINT) AS cnt FROM bb$t")
      .mkString("\nUNION ALL ")
    s"""${bpeChainSql(chain)}
       |$out
       |ORDER BY iter""".stripMargin
  }

  /** Encode-step oracle: per-doc word + piece counts under the learned
    * vocabulary (pieces state after the final merge round). */
  private def bpeEncodeOracleSql(merges: Int): String = {
    val chain = (1 to merges).map(bpeIterSql).mkString(",\n")
    s"""${bpeChainSql(chain)},
       |wp AS (
       |  SELECT word, count(*) AS n_pieces_w FROM p$merges GROUP BY 1
       |), dw AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
       |  FROM documents
       |)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(n_pieces_w) AS BIGINT) AS n_pieces
       |FROM (
       |  SELECT d.doc_id, wp.n_pieces_w
       |  FROM dw d JOIN wp USING (word) WHERE len(d.word) > 0
       |)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Tokenize-step oracle: per-doc space-joined piece sequence in
    * document order (words by position, pieces by position within word —
    * DuckDB's parallel unnest zips the word list with its ordinals). */
  private def bpeTokenizeOracleSql(merges: Int): String = {
    val chain = (1 to merges).map(bpeIterSql).mkString(",\n")
    s"""${bpeChainSql(chain)},
       |wp AS (
       |  SELECT word, string_agg(piece, ' ' ORDER BY pos) AS wpieces,
       |    count(*) AS n_pieces_w
       |  FROM p$merges GROUP BY 1
       |), dw AS (
       |  SELECT doc_id, unnest(l) AS word,
       |    unnest(range(1, len(l) + 1)) AS wpos
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
       |        FROM documents)
       |)
       |SELECT doc_id,
       |  string_agg(wpieces, ' ' ORDER BY wpos) AS pieces_text,
       |  CAST(sum(n_pieces_w) AS BIGINT) AS n_pieces
       |FROM dw JOIN wp USING (word) WHERE len(word) > 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Tokenize→pack composite oracle: the encode-step piece counts feed
    * the quantized packing window (same shape as pack_sequences; BIGINT
    * casts per the HUGEINT window-sum rule). */
  private def bpePackOracleSql(merges: Int, budget: Int): String = {
    val chain = (1 to merges).map(bpeIterSql).mkString(",\n")
    s"""${bpeChainSql(chain)},
       |wp AS (
       |  SELECT word, count(*) AS n_pieces_w FROM p$merges GROUP BY 1
       |), dw AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
       |  FROM documents
       |), enc AS (
       |  SELECT doc_id, CAST(sum(n_pieces_w) AS BIGINT) AS n_pieces
       |  FROM (SELECT d.doc_id, wp.n_pieces_w
       |        FROM dw d JOIN wp USING (word) WHERE len(d.word) > 0)
       |  GROUP BY doc_id
       |), c AS (
       |  SELECT e.doc_id, d.lang, e.n_pieces,
       |    COALESCE(SUM(e.n_pieces) OVER (PARTITION BY d.lang ORDER BY e.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM enc e JOIN documents d USING (doc_id)
       |)
       |SELECT doc_id, lang, n_pieces,
       |  CAST(floor(cum_before / $budget) AS BIGINT) AS pack_id,
       |  CAST(cum_before % $budget AS BIGINT) AS offset_in_pack
       |FROM c ORDER BY doc_id""".stripMargin
  }

  private def bpeIterSql(t: Int): String = {
    val prev = s"p${t - 1}"
      s"""pr$t AS (
         |  SELECT word, freq, pos, piece,
         |    lead(piece) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM $prev
         |), bb$t AS (
         |  SELECT max(struct_pack(cnt := cnt, l := l, r := r)) AS b FROM (
         |    SELECT piece AS l, nxt AS r, sum(freq) AS cnt
         |    FROM pr$t WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  )
         |), mk$t AS (
         |  SELECT word, freq, pos, piece, nxt, cand,
         |    SUM(CASE WHEN cand THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY word ORDER BY pos) AS crn
         |  FROM (
         |    SELECT pr.word, pr.freq, pr.pos, pr.piece, pr.nxt,
         |      (pr.nxt IS NOT NULL AND pr.piece = struct_extract(b.b, 'l')
         |        AND pr.nxt = struct_extract(b.b, 'r')) AS cand
         |    FROM pr$t pr CROSS JOIN bb$t b
         |  )
         |), mg$t AS (
         |  SELECT word, freq, pos, piece, nxt,
         |    (cand AND (crn - MIN(CASE WHEN cand THEN crn END)
         |      OVER (PARTITION BY word, (CASE WHEN cand THEN pos - crn END))
         |      ) % 2 = 0) AS merged
         |  FROM mk$t
         |), p$t AS (
         |  SELECT word, freq,
         |    row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
         |    CASE WHEN merged THEN piece || nxt ELSE piece END AS piece
         |  FROM (
         |    SELECT *, coalesce(lag(merged)
         |      OVER (PARTITION BY word ORDER BY pos), false) AS consumed
         |    FROM mg$t
         |  ) WHERE NOT consumed
         |)""".stripMargin
  }

  /** Shared WITH-prefix of the BPE oracles: word frequencies, char-level
    * initial pieces, and the per-round merge chain. */
  private def bpeChainSql(chain: String): String =
    s"""WITH w AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |    FROM documents
       |  ) WHERE len(word) > 0 GROUP BY 1
       |), p0 AS (
       |  SELECT word, freq, pos,
       |    substring(word, CAST(pos + 1 AS INT), 1) AS piece
       |  FROM (SELECT word, freq, unnest(range(0, len(word))) AS pos FROM w)
       |),
       |$chain""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- tokenization stats ----
    QueryDef("text_token_stats",
      (s, d) => {
        val toks = TextAnalysis.tokens(col("text"))
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            length(col("text")).cast("long").as("n_chars_actual"),
            size(array_distinct(toks)).cast("long").as("n_unique_tokens"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        raw"""SELECT doc_id,
             |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             |  length(text) AS n_chars_actual,
             |  len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_unique_tokens
             |FROM documents ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- quality scoring ----
    QueryDef("text_quality_score",
      (s, d) => {
        val f = TextAnalysis.qualityFeatures(col("text"))
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            f.getField("n_tokens").as("n_tokens"),
            Det.fixed(f.getField("avg_word_len"), 6).as("avg_word_len"),
            Det.fixed(f.getField("punct_ratio"), 6).as("punct_ratio"),
            Det.fixed(f.getField("quality_score"), 6).as("quality_score"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        raw"""WITH feats AS (
             |  SELECT doc_id,
             |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
             |      / len(string_split_regex(trim(text), '\s+')) AS avg_word_len,
             |    CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
             |      / length(text) AS punct_ratio
             |  FROM documents
             |)
             |SELECT doc_id, n_tokens,
             |  (ROUND((avg_word_len) * 1000000, 0) / 1000000) AS avg_word_len,
             |  (ROUND((punct_ratio) * 1000000, 0) / 1000000) AS punct_ratio,
             |  (ROUND((1.0 / (1.0 + exp(-(0.01 * n_tokens + 1.0 * avg_word_len
             |    - 20.0 * punct_ratio - 3.0)))) * 1000000, 0) / 1000000) AS quality_score
             |FROM feats ORDER BY doc_id""".stripMargin)),

    // ---- language ID heuristic (stopword profiles). The fixture's `lang`
    // labels are synthetic noise over one shared vocabulary, so accuracy
    // vs that column is meaningless; real-behavior checks live in
    // TextAnalysisSpec on genuine multilingual snippets. Oracle mirrors
    // the argmax via DuckDB list_sort(structs)[-1] — struct comparison is
    // (hits, lang)-lexicographic in both engines, so ties break the same
    // way. Profile lists are generated from TextAnalysis.stopwords so the
    // two sides cannot drift. ----
    QueryDef("text_langid",
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          col("lang").as("labeled_lang"),
          TextAnalysis.langPredict(col("text")).as("predicted_lang"))
        .orderBy(col("doc_id")),
      oracle = Some {
        val entries = TextAnalysis.stopwords.toSeq.sortBy(_._1).map { case (langCode, words) =>
          val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
          s"{'hits': len(list_intersect(t, $lst)), 'lang': '$langCode'}"
        }.mkString(",\n             |    ")
        raw"""WITH toks AS (
             |  SELECT doc_id, lang,
             |    list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS t
             |  FROM documents
             |)
             |SELECT doc_id, lang AS labeled_lang,
             |  list_sort([
             |    $entries])[-1].lang AS predicted_lang
             |FROM toks ORDER BY doc_id""".stripMargin
      },
      bench = false),

    // ---- BPE-ish sub-word tokenization (brief: "token counting —
    // whitespace + a BPE-ish regex"): alphanumeric runs + individual
    // punctuation marks, the pre-merge piece inventory of a BPE
    // tokenizer. Alternation is leftmost-first in both Java regex and
    // RE2, so piece boundaries agree. ----
    QueryDef("tokens_bpe",
      (s, d) => {
        val pieceRe = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            regexp_count(col("text"), lit(pieceRe)).as("n_pieces"),
            size(array_distinct(regexp_extract_all(col("text"), lit(pieceRe), lit(0))))
              .as("n_uniq_pieces"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        raw"""SELECT doc_id,
             |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_pieces,
             |  len(list_distinct(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')))
             |    AS n_uniq_pieces
             |FROM documents ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- the first BPE TRAINING step: corpus-wide adjacent-piece pair
    // frequencies, top-20. BPE training is "repeatedly merge the most
    // frequent adjacent pair"; this is one full iteration of the count —
    // a map-side pair explode + one count shuffle, embarrassingly
    // parallel at 100 TB. Deterministic ordering: (count desc, pair). ----
    QueryDef("tokens_bpe_pairs",
      (s, d) => {
        val pieceRe = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"
        val pieces = regexp_extract_all(col("text"), lit(pieceRe), lit(0))
        Tables.documents(s, d)
          .select(explode(zip_with(
            slice(pieces, lit(1), greatest(size(pieces) - 1, lit(0))),
            slice(pieces, lit(2), greatest(size(pieces) - 1, lit(0))),
            (a, b) => concat_ws(" ", a, b))).as("pair"))
          .groupBy(col("pair"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(20)
      },
      oracle = Some(
        raw"""WITH pieces AS (
             |  SELECT regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]') AS p
             |  FROM documents
             |), pairs AS (
             |  SELECT unnest(list_transform(range(1, len(p)),
             |    i -> p[i] || ' ' || p[i+1])) AS pair
             |  FROM pieces
             |)
             |SELECT pair, count(*) AS n FROM pairs
             |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin),
      bench = false),

    // ---- full BPE TRAINING loop: 8 merge rounds over distinct-word
    // frequencies, greedy left-to-right application via word-partitioned
    // windows — the ITERATIVE trainer, oracle-exact through a chained-CTE
    // DuckDB twin (one CTE block per round; pure integer counts + string
    // ops, so no float drift anywhere). ----
    QueryDef("tokens_bpe_train",
      (s, d) => TextAnalysis.bpeTrainMerges(
        Tables.documents(s, d), col("text"), merges = 8),
      oracle = Some(bpeTrainOracleSql(8))),

    // ---- BPE ENCODE step: per-doc word/piece counts under the vocab
    // learned above (tokenizer apply; token budgeting / compression
    // audits). Same chained-CTE machinery, integer-exact. ----
    QueryDef("tokens_bpe_encode",
      (s, d) => TextAnalysis.bpeEncodeStats(
        Tables.documents(s, d), "doc_id", col("text"), merges = 8)
        .orderBy(col("doc_id")),
      oracle = Some(bpeEncodeOracleSql(8)),
      bench = false),

    // ---- full BPE TOKENIZATION: the materialized per-doc piece
    // sequence under the learned vocab — what a training pipeline
    // actually writes out. Corpus-scale work is one join of the exploded
    // word stream to the vocabulary-sized word→pieces table; per-doc
    // reassembly is a sorted-struct aggregate (no collect_list order
    // dependence). ----
    QueryDef("tokens_bpe_tokenize",
      (s, d) => TextAnalysis.bpeTokenize(
        Tables.documents(s, d), "doc_id", col("text"), merges = 8)
        .orderBy(col("doc_id")),
      oracle = Some(bpeTokenizeOracleSql(8)),
      bench = false),

    // ---- tokenize→pack END-TO-END: BPE piece counts flow into the
    // quantized sequence-packing window — the composite a training-data
    // writer runs (tokenize, then fill fixed context windows per shard).
    // Piece counting is the corpus-scale join; packing parallelizes per
    // lang shard. ----
    QueryDef("tokens_pack_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val enc = graft.operators.TextAnalysis.bpeEncodeStats(
            docs, "doc_id", col("text"), merges = 8)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        graft.operators.Curation.packSequences(
            enc, tokenCol = col("n_pieces"), shardCol = col("lang"),
            orderCol = col("doc_id"), budget = 2048)
          .select(col("doc_id"), col("lang"), col("n_tokens").as("n_pieces"),
            col("pack_id"), col("offset_in_pack"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(bpePackOracleSql(8, 2048)),
      bench = false),

    // ---- content fingerprint ----
    QueryDef("text_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id")),
      oracle = Some(
        raw"""SELECT doc_id,
             |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
             |FROM documents ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- exact dedup (hash-groupBy on fingerprint) ----
    QueryDef("dedup_exact",
      (s, d) => Dedup.exactClusters(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("fingerprint"), col("keeper_id"),
          col("cluster_size"), col("is_duplicate"))
        .orderBy(col("doc_id")),
      oracle = Some(
        raw"""WITH fp AS (
             |  SELECT doc_id,
             |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
             |  FROM documents
             |)
             |SELECT doc_id, fingerprint,
             |  min(doc_id) OVER (PARTITION BY fingerprint) AS keeper_id,
             |  count(*) OVER (PARTITION BY fingerprint) AS cluster_size,
             |  doc_id > min(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
             |FROM fp ORDER BY doc_id""".stripMargin)),

    // ---- MinHash + LSH near-dup: per-doc best verified candidate.
    // Iterative multi-stage hashing pipeline — not SQL-expressible;
    // DedupSpec verifies with planted near-duplicates. ----
    QueryDef("dedup_minhash_lsh",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text",
          threshold = 0.5, shingleK = 3, numHashes = 16, bands = 4)
        // symmetrize and keep each doc's best match
        val sym = pairs.select(col("a").as("doc_id"), col("b").as("other"), col("jaccard"))
          .union(pairs.select(col("b").as("doc_id"), col("a").as("other"), col("jaccard")))
        val best = sym.groupBy(col("doc_id"))
          .agg(max(struct(col("jaccard"), col("other"))).as("bestm"))
          .select(col("doc_id"),
            Det.fixed(col("bestm.jaccard"), 6).as("best_jaccard"),
            col("bestm.other").as("best_match_id"))
        docs.select(col("doc_id")).join(best, Seq("doc_id"), "left")
          .withColumn("is_near_duplicate", col("best_jaccard").isNotNull)
          .orderBy(col("doc_id"))
      },
      oracle = None),

    // ---- SimHash near-dup (custom codegen expression + bit_count) ----
    QueryDef("dedup_simhash",
      (s, d) => Dedup.simhashNeighbors(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 10)
        .select(col("id").as("doc_id"), col("simhash"),
          col("nn_id"), col("nn_hamming"))
        .orderBy(col("doc_id")),
      oracle = None),

    // ---- MinHash + LSH oracle twin: the SAME banded-LSH dataflow as
    // dedup_minhash_lsh (signatures -> band buckets -> in-bucket pairs ->
    // exact-Jaccard verify -> per-doc best), but the hash family is
    // md5-derived — h = first 15 hex chars of md5(shingle) as a 60-bit
    // int, Kirsch-Mitzenmacher g_i = (h>>30 + i*(h&2^30-1)) mod p over
    // its 30-bit halves — so DuckDB recomputes IDENTICAL signatures,
    // buckets, candidates and verified pairs: an exact hash-match oracle
    // for the full near-dup pipeline. The murmur-family native kernel
    // stays the bench/scale path (one md5 per shingle here costs ~10x a
    // murmur round); this twin exists to pin the PIPELINE semantics
    // cross-engine, not to race. bench=false. ----
    QueryDef("dedup_minhash_oracle",
      (s, d) => {
        val ver = Dedup.nearDuplicatePairsMd5(
          Tables.documents(s, d), "doc_id", "text",
          threshold = 0.5, shingleK = 3, numHashes = 16, bands = 4)
        val sym = ver.select(col("a").as("doc_id"), col("b").as("other"), col("jaccard"))
          .union(ver.select(col("b").as("doc_id"), col("a").as("other"), col("jaccard")))
        // best_jaccard is a ratio of two exact ints — pure IEEE division,
        // bit-identical cross-engine, no rounding needed (Det scaladoc).
        val best = sym.groupBy(col("doc_id"))
          .agg(max(struct(col("jaccard"), col("other"))).as("m"))
          .select(col("doc_id"), col("m.jaccard").as("best_jaccard"),
            col("m.other").as("best_match_id"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(best, Seq("doc_id"), "left")
          .withColumn("is_near_duplicate", col("best_jaccard").isNotNull)
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        raw"""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
             |), sh AS (
             |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
             |      list_distinct(list_transform(range(1, len(t) - 1),
             |        i -> array_to_string(t[i:i+2], ' ')))
             |    ELSE CAST([] AS VARCHAR[]) END AS sh
             |  FROM toks
             |), hs AS (
             |  SELECT doc_id, sh,
             |    list_transform(sh, x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)) AS harr
             |  FROM sh
             |), sigs AS (
             |  SELECT doc_id,
             |    list_transform(range(0, 16), i -> list_min(list_transform(harr,
             |      h -> ((h >> 30) + i * (h & 1073741823)) % 1073741789))) AS sig
             |  FROM hs WHERE len(sh) > 0
             |), buckets AS (
             |  SELECT s.doc_id, b.band,
             |    array_to_string(s.sig[b.band*4+1 : b.band*4+4], ',') AS bucket
             |  FROM sigs s CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
             |), cand AS (
             |  SELECT l.doc_id AS a, r.doc_id AS b
             |  FROM buckets l JOIN buckets r USING (band, bucket)
             |  WHERE l.doc_id < r.doc_id
             |  GROUP BY 1, 2
             |), ver AS (
             |  SELECT c.a AS a, c.b AS b,
             |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             |      / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) AS jaccard
             |  FROM cand c JOIN hs x ON x.doc_id = c.a JOIN hs y ON y.doc_id = c.b
             |), kept AS (
             |  SELECT * FROM ver WHERE jaccard >= 0.5
             |), sym AS (
             |  SELECT a AS doc_id, b AS other, jaccard FROM kept
             |  UNION ALL
             |  SELECT b AS doc_id, a AS other, jaccard FROM kept
             |), best AS (
             |  SELECT doc_id, max(struct_pack(jaccard := jaccard, other := other)) AS m
             |  FROM sym GROUP BY doc_id
             |)
             |SELECT d.doc_id AS doc_id, m.jaccard AS best_jaccard,
             |  m.other AS best_match_id, m.jaccard IS NOT NULL AS is_near_duplicate
             |FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
             |ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- incremental (delta) near-dedup: the 100 TB OPERATING MODE —
    //      dedup a new crawl increment against a FROZEN corpus via its
    //      persisted signature table, never re-reading the old text.
    //      doc_id % 5 == 0 plays the increment; the rest is the frozen
    //      corpus whose md5-family signature table is WRITTEN TO PARQUET
    //      and read back inside the query, so the certified row
    //      exercises the real round-trip (the operator's existing-side
    //      input carries no text column — re-shingling the corpus is
    //      impossible by type). Candidate work = the band buckets the
    //      delta lands in; cost scales with the delta + the duplicate
    //      mass it hits, not the corpus (see
    //      Dedup.incrementalNearDuplicatePairsMd5). Output: per-NEW-doc
    //      best match over old ∪ new endpoints; matched_existing = the
    //      best match is a frozen-corpus doc (vs a dup within the
    //      increment itself). DedupSpec pins the batch-equivalence
    //      contract: identical to full-corpus pairs restricted to ≥ 1
    //      new endpoint. ----
    QueryDef("dedup_incremental_lsh",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val newDocs = docs.where(col("doc_id") % 5 === 0)
        val oldDocs = docs.where(col("doc_id") % 5 =!= 0)
        val sigDir = java.nio.file.Files
          .createTempDirectory("graft_sigtab_").toString
        Dedup.writeSignatureTableMd5(oldDocs, "doc_id", "text", sigDir)
        val pairs = Dedup.incrementalNearDuplicatePairsMd5(
          newDocs, "doc_id", "text", s.read.parquet(sigDir),
          threshold = 0.5, shingleK = 3, numHashes = 16, bands = 4)
        val sym = pairs
          .select(col("a").as("doc_id"), col("b").as("other"), col("jaccard"))
          .union(pairs.where(col("b") % 5 === 0)
            .select(col("b").as("doc_id"), col("a").as("other"),
              col("jaccard")))
        // best_jaccard is a ratio of two exact ints — pure IEEE division,
        // bit-identical cross-engine (Det scaladoc)
        val best = sym.groupBy(col("doc_id"))
          .agg(max(struct(col("jaccard"), col("other"))).as("m"))
          .select(col("doc_id"), col("m.jaccard").as("best_jaccard"),
            col("m.other").as("best_match_id"))
        newDocs.select(col("doc_id")).join(best, Seq("doc_id"), "left")
          .withColumn("matched_existing", col("best_match_id") % 5 =!= 0)
          .withColumn("is_near_duplicate", col("best_jaccard").isNotNull)
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        raw"""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
             |), sh AS (
             |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
             |      list_distinct(list_transform(range(1, len(t) - 1),
             |        i -> array_to_string(t[i:i+2], ' ')))
             |    ELSE CAST([] AS VARCHAR[]) END AS sh
             |  FROM toks
             |), hs AS (
             |  SELECT doc_id, sh,
             |    list_transform(sh, x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)) AS harr
             |  FROM sh
             |), sigs AS (
             |  SELECT doc_id,
             |    list_transform(range(0, 16), i -> list_min(list_transform(harr,
             |      h -> ((h >> 30) + i * (h & 1073741823)) % 1073741789))) AS sig
             |  FROM hs WHERE len(sh) > 0
             |), buckets AS (
             |  SELECT s.doc_id, b.band,
             |    array_to_string(s.sig[b.band*4+1 : b.band*4+4], ',') AS bucket
             |  FROM sigs s CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
             |), cand AS (
             |  SELECT l.doc_id AS a, r.doc_id AS b
             |  FROM buckets l JOIN buckets r USING (band, bucket)
             |  WHERE l.doc_id % 5 = 0 AND l.doc_id <> r.doc_id
             |    AND (r.doc_id % 5 <> 0 OR l.doc_id < r.doc_id)
             |  GROUP BY 1, 2
             |), kept AS (
             |  SELECT c.a AS a, c.b AS b,
             |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             |      / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) AS jaccard
             |  FROM cand c JOIN hs x ON x.doc_id = c.a JOIN hs y ON y.doc_id = c.b
             |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             |      / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) >= 0.5
             |), sym AS (
             |  SELECT a AS doc_id, b AS other, jaccard FROM kept
             |  UNION ALL
             |  SELECT b AS doc_id, a AS other, jaccard FROM kept WHERE b % 5 = 0
             |), best AS (
             |  SELECT doc_id, max(struct_pack(jaccard := jaccard, other := other)) AS m
             |  FROM sym GROUP BY doc_id
             |)
             |SELECT d.doc_id AS doc_id, m.jaccard AS best_jaccard,
             |  m.other AS best_match_id, m.other % 5 <> 0 AS matched_existing,
             |  m.jaccard IS NOT NULL AS is_near_duplicate
             |FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
             |WHERE d.doc_id % 5 = 0
             |ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- LSH quality-evaluation harness: recall / precision of the
    //      banded-MinHash candidate set against an exact blocked-Jaccard
    //      ground truth (pairs sharing ≥1 rare shingle, df ≤ 20, exact
    //      Jaccard ≥ 0.5). The question a pipeline owner asks before
    //      trusting near-dedup at 100 TB: "what fraction of true dups do
    //      4 bands × 4 rows catch, and how much verify work do false
    //      candidates cost?" Both sides are bounded self-joins (band
    //      buckets / rare-shingle blocks — never corpus-quadratic);
    //      the metric joins run on pair keys, counts are exact ints,
    //      ratios pure IEEE division — bit-identical cross-engine.
    //      Truth blocks on the LSH stage's Keys: shingling the corpus
    //      twice bought no isolation — the shingle arrays are identical
    //      by construction — and cost a full extra tokenize pass. ----
    QueryDef("dedup_lsh_eval",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // both frames feed two consumers (their count agg + the hit
        // join); without the shares each whole pipeline plans and runs
        // twice — at the 100x slice that doubled an ~40 s computation
        val (keys, cand0) = Dedup.md5StagedAndCandidates(
          docs, "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4)
        val cand = cand0.stageShare()
        // truth blocks on the candidate side's Keys: the corpus is
        // tokenized+shingled ONCE — at 100 TB a second tokenize pass is a
        // full extra corpus scan, and the oracle shares its sh CTE the
        // same way
        val truth = Dedup.blockedJaccardPairs(
          keys, threshold = 0.5, maxShingleDf = 20)
          .select(col("a"), col("b")).stageShare()
        val nc = cand.agg(count(lit(1)).as("n_cand"))
        val nt = truth.agg(count(lit(1)).as("n_true"))
        val nh = cand.join(truth, Seq("a", "b"))
          .agg(count(lit(1)).as("n_hit"))
        val rec = when(col("n_true") > 0,
          col("n_hit").cast("double") / col("n_true").cast("double"))
          .otherwise(lit(0.0))
        val prec = when(col("n_cand") > 0,
          col("n_hit").cast("double") / col("n_cand").cast("double"))
          .otherwise(lit(0.0))
        nt.crossJoin(nc).crossJoin(nh)
          .select(col("n_true"), col("n_cand"), col("n_hit"),
            rec.as("recall"), prec.as("precision"))
          .withColumn("f1",
            when(col("recall") + col("precision") > 0,
              lit(2.0) * col("recall") * col("precision") /
                (col("recall") + col("precision")))
              .otherwise(lit(0.0)))
      },
      oracle = Some(
        raw"""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
             |), sh AS (
             |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
             |      list_distinct(list_transform(range(1, len(t) - 1),
             |        i -> array_to_string(t[i:i+2], ' ')))
             |    ELSE CAST([] AS VARCHAR[]) END AS sh
             |  FROM toks
             |), hs AS (
             |  SELECT doc_id, sh,
             |    list_transform(sh, x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)) AS harr
             |  FROM sh
             |), sigs AS (
             |  SELECT doc_id,
             |    list_transform(range(0, 16), i -> list_min(list_transform(harr,
             |      h -> ((h >> 30) + i * (h & 1073741823)) % 1073741789))) AS sig
             |  FROM hs WHERE len(sh) > 0
             |), buckets AS (
             |  SELECT s.doc_id, b.band,
             |    array_to_string(s.sig[b.band*4+1 : b.band*4+4], ',') AS bucket
             |  FROM sigs s CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
             |), cand AS (
             |  SELECT l.doc_id AS a, r.doc_id AS b
             |  FROM buckets l JOIN buckets r USING (band, bucket)
             |  WHERE l.doc_id < r.doc_id
             |  GROUP BY 1, 2
             |), ex AS (
             |  SELECT doc_id, unnest(sh) AS s FROM sh
             |), rare AS (
             |  SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 20
             |), bl AS (
             |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             |  FROM ex l JOIN rare USING (s) JOIN ex r USING (s)
             |  WHERE l.doc_id < r.doc_id
             |), truth AS (
             |  SELECT bl.a, bl.b
             |  FROM bl JOIN sh x ON x.doc_id = bl.a JOIN sh y ON y.doc_id = bl.b
             |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             |      / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) >= 0.5
             |), m AS (
             |  SELECT
             |    (SELECT COUNT(*) FROM truth) AS n_true,
             |    (SELECT COUNT(*) FROM cand) AS n_cand,
             |    (SELECT COUNT(*) FROM cand JOIN truth USING (a, b)) AS n_hit
             |), pr AS (
             |  SELECT n_true, n_cand, n_hit,
             |    CASE WHEN n_true > 0
             |      THEN CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)
             |      ELSE CAST(0.0 AS DOUBLE) END AS recall,
             |    CASE WHEN n_cand > 0
             |      THEN CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)
             |      ELSE CAST(0.0 AS DOUBLE) END AS precision
             |  FROM m
             |)
             |SELECT n_true, n_cand, n_hit, recall, precision,
             |  CASE WHEN recall + precision > 0
             |    THEN CAST(2.0 AS DOUBLE) * recall * precision / (recall + precision)
             |    ELSE CAST(0.0 AS DOUBLE) END AS f1
             |FROM pr""".stripMargin)),

    // ---- SAMPLED-ground-truth LSH eval: the scale-affordable variant
    //      of dedup_lsh_eval. The full row's exact blocked-Jaccard truth
    //      is the one catalog computation a 100 TB run could never
    //      afford (its Σdf² block join is duplicate-mass-proportional —
    //      90.6 s median at the 100× slice). Here the truth runs only
    //      for a SEEDED STRATIFIED doc sample — strata = source ×
    //      dup-mass (dense = the doc appears in ≥1 LSH candidate pair,
    //      the cheap production artifact we are evaluating anyway),
    //      rates 1/16 dense / 1/8 sparse via the engine-portable
    //      multiplicative hashU. The dense rate is deliberately LOW:
    //      on a replicated-dup corpus (ScaleGen 100×: every doc is in
    //      ≥1 candidate pair, so dense = the whole 500k corpus) a rate
    //      of 1/2 made the truth term merely halve — 1/16 keeps ~31k
    //      sampled docs (binomial CI on recall ±0.3%) while truth cost
    //      tracks the SAMPLE, not the corpus (lshdecomp probe: full
    //      truth 133 s at 100×, sampled-at-1/2 78 s, the blocked join
    //      shrinks ∝ rate). A pair is sampled iff its MIN-id
    //      endpoint is sampled (exactly one inclusion Bernoulli per
    //      pair), so per-stratum counts reweight by exact integer
    //      inverse rates (16, 8) into unbiased recall/precision
    //      estimates: recall_est = Σw·hit / Σw·true,
    //      precision_est = Σw·cand_true / Σw·cand. Output = one row per
    //      stratum (exact-integer counts) with the global estimates
    //      repeated — everything integers + one IEEE division,
    //      bit-identical cross-engine.
    //
    //      ESTIMAND NOTE: recall_est matches the full row's recall
    //      definition exactly (blocked truth both sides — 100× slice,
    //      Aug-15 fixtures, 31,512 sampled docs: 0.947585 sampled vs
    //      0.947827 full, Δ=2.4e-4, inside one binomial σ≈6e-4 of the
    //      134k sampled truth pairs). precision_est deliberately
    //      verifies sampled candidates DIRECTLY (exact Jaccard) instead
    //      of intersecting with the df-capped blocked truth: that is
    //      the question a pipeline owner asks ("how much verify work is
    //      wasted"), and at 100× it exposes the blocked truth's
    //      documented df-cap blind spot — 0.9930 direct vs 0.8835
    //      blocked-intersection, i.e. ~11% of candidates are REAL
    //      J≥0.5 pairs whose every shared shingle is hotter than df=20
    //      (ScaleGen dup groups × organic groups push shared-shingle df
    //      past the cap at scale). ----
    QueryDef("dedup_lsh_eval_sampled",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val (keys, cand0) = Dedup.md5StagedAndCandidates(
          docs, "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4)
        val cand = cand0.stageShare()
        val inCand = cand.select(col("a").as("doc_id"))
          .union(cand.select(col("b").as("doc_id"))).distinct()
        val samp = docs.select(col("doc_id"), col("source"))
          .join(inCand.withColumn("dc", lit(1)), Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"), col("dc").isNotNull.as("dense"))
          .withColumn("in_s",
            graft.operators.Curation.hashU(col("doc_id"), 91L) <
              when(col("dense"), lit(0.0625)).otherwise(lit(0.125)))
          .stageShare()
        val sampleIds = samp.where(col("in_s")).select(col("doc_id").as("id"))
        // the corpus is shingled and exploded ONCE: the sampled truth
        // and the direct verify of sampled candidates read the candidate
        // side's Keys — the oracle's sh CTE is shared the same way
        val truth = Dedup.blockedJaccardPairs(
          keys, threshold = 0.5, maxShingleDf = 20, Some(sampleIds))
          .select(col("a"), col("b")).stageShare()
        val hits = truth.join(cand, Seq("a", "b"))
        val candS = cand.join(sampleIds.select(col("id").as("a")), Seq("a"))
          .stageShare()
        val candTrue = Dedup.jaccardPairs(keys, candS, threshold = 0.5)
          .select(col("a"), col("b"))
        val aStrat = samp.select(col("doc_id").as("a"), col("source"), col("dense"))
        def perStratum(pairs: org.apache.spark.sql.DataFrame, name: String) =
          pairs.join(aStrat, Seq("a")).groupBy(col("source"), col("dense"))
            .agg(count(lit(1)).as(name))
        val per = samp.groupBy(col("source"), col("dense"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("in_s"), 1L).otherwise(0L)).as("n_sampled"))
          .join(perStratum(truth, "n_true"), Seq("source", "dense"), "left")
          .join(perStratum(hits, "n_hit"), Seq("source", "dense"), "left")
          .join(perStratum(candS, "n_cand"), Seq("source", "dense"), "left")
          .join(perStratum(candTrue, "n_cand_true"), Seq("source", "dense"), "left")
          .na.fill(0L, Seq("n_true", "n_hit", "n_cand", "n_cand_true"))
          // shared: `tot` below re-aggregates this frame and the final
          // crossJoin reads it again — without the share the WHOLE eval
          // DAG (truth + direct-verify branches) plans twice and the
          // lazily-persisted leaves race to materialize concurrently
          // (observed as 9-50 s rep variance at sf0.1 on an idle host)
          .stageShare()
        val w = when(col("dense"), lit(16L)).otherwise(lit(8L))
        val tot = per.agg(
          sum(w * col("n_true")).as("wt"), sum(w * col("n_hit")).as("wh"),
          sum(w * col("n_cand")).as("wc"), sum(w * col("n_cand_true")).as("wv"))
          .select(
            when(col("wt") > 0,
              col("wh").cast("double") / col("wt").cast("double"))
              .otherwise(lit(0.0)).as("recall_est"),
            when(col("wc") > 0,
              col("wv").cast("double") / col("wc").cast("double"))
              .otherwise(lit(0.0)).as("precision_est"))
          .withColumn("f1_est",
            when(col("recall_est") + col("precision_est") > 0,
              lit(2.0) * col("recall_est") * col("precision_est") /
                (col("recall_est") + col("precision_est")))
              .otherwise(lit(0.0)))
        per.crossJoin(tot).orderBy(col("source"), col("dense"))
      },
      oracle = Some(
        raw"""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
             |), sh AS (
             |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
             |      list_distinct(list_transform(range(1, len(t) - 1),
             |        i -> array_to_string(t[i:i+2], ' ')))
             |    ELSE CAST([] AS VARCHAR[]) END AS sh
             |  FROM toks
             |), hs AS (
             |  SELECT doc_id, sh,
             |    list_transform(sh, x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)) AS harr
             |  FROM sh
             |), sigs AS (
             |  SELECT doc_id,
             |    list_transform(range(0, 16), i -> list_min(list_transform(harr,
             |      h -> ((h >> 30) + i * (h & 1073741823)) % 1073741789))) AS sig
             |  FROM hs WHERE len(sh) > 0
             |), buckets AS (
             |  SELECT s.doc_id, b.band,
             |    array_to_string(s.sig[b.band*4+1 : b.band*4+4], ',') AS bucket
             |  FROM sigs s CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
             |), cand AS (
             |  SELECT l.doc_id AS a, r.doc_id AS b
             |  FROM buckets l JOIN buckets r USING (band, bucket)
             |  WHERE l.doc_id < r.doc_id
             |  GROUP BY 1, 2
             |), incand AS (
             |  SELECT a AS doc_id FROM cand UNION SELECT b FROM cand
             |), samp AS (
             |  SELECT doc_id, source, dense,
             |    (u < CASE WHEN dense THEN 0.0625 ELSE 0.125 END) AS in_s
             |  FROM (
             |    SELECT d.doc_id, d.source, (i.doc_id IS NOT NULL) AS dense,
             |      CAST(((CAST(d.doc_id AS HUGEINT) * 2654435761 + 91) % 4294967296
             |        + 4294967296) % 4294967296 AS BIGINT) / 4294967296.0 AS u
             |    FROM documents d LEFT JOIN incand i ON i.doc_id = d.doc_id
             |  )
             |), ss AS (
             |  SELECT doc_id FROM samp WHERE in_s
             |), ex AS (
             |  SELECT doc_id, unnest(sh) AS s FROM sh
             |), rare AS (
             |  SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 20
             |), bl AS (
             |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             |  FROM ex l
             |  JOIN ss ON ss.doc_id = l.doc_id
             |  JOIN rare ON rare.s = l.s
             |  JOIN ex r ON r.s = l.s
             |  WHERE l.doc_id < r.doc_id
             |), truth AS (
             |  SELECT bl.a, bl.b
             |  FROM bl JOIN sh x ON x.doc_id = bl.a JOIN sh y ON y.doc_id = bl.b
             |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             |      / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) >= 0.5
             |), hitp AS (
             |  SELECT t.a, t.b FROM truth t JOIN cand c ON c.a = t.a AND c.b = t.b
             |), cand_s AS (
             |  SELECT c.a, c.b FROM cand c JOIN ss ON ss.doc_id = c.a
             |), cand_true AS (
             |  SELECT c.a, c.b
             |  FROM cand_s c JOIN sh x ON x.doc_id = c.a JOIN sh y ON y.doc_id = c.b
             |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             |      / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) >= 0.5
             |), pt AS (
             |  SELECT sa.source, sa.dense, COUNT(*) AS c
             |  FROM truth t JOIN samp sa ON sa.doc_id = t.a GROUP BY 1, 2
             |), ph AS (
             |  SELECT sa.source, sa.dense, COUNT(*) AS c
             |  FROM hitp t JOIN samp sa ON sa.doc_id = t.a GROUP BY 1, 2
             |), pc AS (
             |  SELECT sa.source, sa.dense, COUNT(*) AS c
             |  FROM cand_s t JOIN samp sa ON sa.doc_id = t.a GROUP BY 1, 2
             |), pv AS (
             |  SELECT sa.source, sa.dense, COUNT(*) AS c
             |  FROM cand_true t JOIN samp sa ON sa.doc_id = t.a GROUP BY 1, 2
             |), per AS (
             |  SELECT b.source, b.dense, b.n_docs, b.n_sampled,
             |    COALESCE(pt.c, 0) AS n_true, COALESCE(ph.c, 0) AS n_hit,
             |    COALESCE(pc.c, 0) AS n_cand, COALESCE(pv.c, 0) AS n_cand_true
             |  FROM (
             |    SELECT source, dense, COUNT(*) AS n_docs,
             |      COUNT(*) FILTER (WHERE in_s) AS n_sampled
             |    FROM samp GROUP BY 1, 2
             |  ) b
             |  LEFT JOIN pt ON pt.source = b.source AND pt.dense = b.dense
             |  LEFT JOIN ph ON ph.source = b.source AND ph.dense = b.dense
             |  LEFT JOIN pc ON pc.source = b.source AND pc.dense = b.dense
             |  LEFT JOIN pv ON pv.source = b.source AND pv.dense = b.dense
             |), tot AS (
             |  SELECT
             |    CASE WHEN SUM(w * n_true) > 0
             |      THEN CAST(SUM(w * n_hit) AS DOUBLE) / CAST(SUM(w * n_true) AS DOUBLE)
             |      ELSE CAST(0.0 AS DOUBLE) END AS recall_est,
             |    CASE WHEN SUM(w * n_cand) > 0
             |      THEN CAST(SUM(w * n_cand_true) AS DOUBLE) / CAST(SUM(w * n_cand) AS DOUBLE)
             |      ELSE CAST(0.0 AS DOUBLE) END AS precision_est
             |  FROM (SELECT *, CASE WHEN dense THEN 16 ELSE 8 END AS w FROM per)
             |), tot2 AS (
             |  SELECT recall_est, precision_est,
             |    CASE WHEN recall_est + precision_est > 0
             |      THEN CAST(2.0 AS DOUBLE) * recall_est * precision_est
             |        / (recall_est + precision_est)
             |      ELSE CAST(0.0 AS DOUBLE) END AS f1_est
             |  FROM tot
             |)
             |SELECT per.source, per.dense, per.n_docs, per.n_sampled,
             |  per.n_true, per.n_hit, per.n_cand, per.n_cand_true,
             |  tot2.recall_est, tot2.precision_est, tot2.f1_est
             |FROM per CROSS JOIN tot2
             |ORDER BY source, dense""".stripMargin),
      bench = false),

    // ---- the END-TO-END dedup pipeline, composed from the verified
    //      stages: MinHash-LSH candidates (md5 family — exact-twin) →
    //      shingle-Jaccard verify → large-star/small-star connected
    //      components → keep the LONGEST doc per cluster (n_chars
    //      quality, min-id ties, struct-max argmax). One query a corpus
    //      owner actually runs: per doc, its cluster, the cluster size,
    //      the survivor, and whether this doc is it. Every stage is the
    //      already-oracle-checked operator; the pipeline pins their
    //      composition cross-engine. Oracle CTEs are MATERIALIZED:
    //      inlined, DuckDB re-evaluates the whole LSH+verify chain on
    //      every iteration of the recursive reach CTE (>70 min
    //      unconverged at the 100× slice; 192 s materialized, same
    //      500k rows hash-exact — see GraphQueries.graphCtes). ----
    QueryDef("dedup_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val edges = Dedup.nearDuplicatePairsMd5(docs, "doc_id", "text",
          threshold = 0.5, shingleK = 3, numHashes = 16, bands = 4)
          .select(col("a"), col("b"))
        val nodes = docs.select(col("doc_id").as("node"))
        val cc = graft.operators.Curation.connectedComponentsStar(edges, nodes)
        val labeled = cc.join(
          docs.select(col("doc_id").as("node"), col("n_chars")), Seq("node"))
        graft.operators.Curation.bestInCluster(labeled, "n_chars")
          .withColumn("cluster_size",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("cluster_id"))))
          .select(col("node").as("doc_id"), col("cluster_id"),
            col("cluster_size"), col("n_chars"), col("keep_id"), col("kept"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        raw"""WITH RECURSIVE toks AS MATERIALIZED (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
             |), sh AS MATERIALIZED (
             |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
             |      list_distinct(list_transform(range(1, len(t) - 1),
             |        i -> array_to_string(t[i:i+2], ' ')))
             |    ELSE CAST([] AS VARCHAR[]) END AS sh
             |  FROM toks
             |), hs AS MATERIALIZED (
             |  SELECT doc_id, sh,
             |    list_transform(sh, x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)) AS harr
             |  FROM sh
             |), sigs AS MATERIALIZED (
             |  SELECT doc_id,
             |    list_transform(range(0, 16), i -> list_min(list_transform(harr,
             |      h -> ((h >> 30) + i * (h & 1073741823)) % 1073741789))) AS sig
             |  FROM hs WHERE len(sh) > 0
             |), buckets AS MATERIALIZED (
             |  SELECT s.doc_id, b.band,
             |    array_to_string(s.sig[b.band*4+1 : b.band*4+4], ',') AS bucket
             |  FROM sigs s CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
             |), cand AS MATERIALIZED (
             |  SELECT l.doc_id AS a, r.doc_id AS b
             |  FROM buckets l JOIN buckets r USING (band, bucket)
             |  WHERE l.doc_id < r.doc_id
             |  GROUP BY 1, 2
             |), ver AS MATERIALIZED (
             |  SELECT c.a AS a, c.b AS b,
             |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             |      / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) AS jaccard
             |  FROM cand c JOIN hs x ON x.doc_id = c.a JOIN hs y ON y.doc_id = c.b
             |), kept_edges AS MATERIALIZED (
             |  SELECT a, b FROM ver WHERE jaccard >= 0.5
             |), sym2 AS MATERIALIZED (
             |  SELECT a AS x, b AS y FROM kept_edges
             |  UNION ALL SELECT b AS x, a AS y FROM kept_edges
             |), reach AS (
             |  SELECT doc_id AS node, doc_id AS lab FROM documents
             |  UNION
             |  SELECT s.y AS node, r.lab FROM reach r JOIN sym2 s ON s.x = r.node
             |), lab AS MATERIALIZED (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
             |j AS MATERIALIZED (
             |  SELECT lab.node, lab.cluster_id, d.n_chars
             |  FROM lab JOIN documents d ON d.doc_id = lab.node
             |), rk AS MATERIALIZED (
             |  SELECT *, row_number() OVER (PARTITION BY cluster_id
             |    ORDER BY n_chars DESC, node) AS rn FROM j
             |), reps AS MATERIALIZED (SELECT cluster_id, node AS keep_id FROM rk WHERE rn = 1)
             |SELECT j.node AS doc_id, j.cluster_id,
             |  count(*) OVER (PARTITION BY j.cluster_id) AS cluster_size,
             |  j.n_chars, reps.keep_id, j.node = reps.keep_id AS kept
             |FROM j JOIN reps ON j.cluster_id = reps.cluster_id
             |ORDER BY doc_id""".stripMargin)),

    // ---- MULTI-SIGNAL ensemble dedup: the union of two COMPLEMENTARY
    //      near-dup signals — banded-MinHash verified Jaccard ≥ 0.5
    //      (symmetric rewrites) and shingle CONTAINMENT ≥ 0.9 (subset
    //      quotes, which Jaccard structurally misses when |A| ≪ |B|) —
    //      fed into one star-CC clustering with keep-longest survivors.
    //      The belt-and-braces config a production corpus actually runs:
    //      each signal is the already-oracle-exact operator, the union
    //      is a distinct over canonical (a < b) pair keys, and the
    //      CC/survivor tail is dedup_pipeline's. Both signals are
    //      bounded (band buckets / df-capped shingle blocks); the
    //      ensemble adds no new scale risk. Oracle: the pipeline CTE
    //      chain + the containment chain over the SAME sh arrays —
    //      in the PREFIX form (any complete prefix yields the identical
    //      edge set, so the SQL uses its own (dfk, s) order and the
    //      same +2 safety bound; this is what makes the 100×-slice
    //      DuckDB check tractable) — UNION, recursive closure
    //      (MATERIALIZED, per graphCtes). ----
    QueryDef("dedup_multi_signal",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // ONE corpus shingling and ONE explode+hash feed BOTH signals:
        // the Jaccard verify and the containment staging read the LSH
        // front-end's Keys (cached once) instead of re-tokenizing or
        // re-exploding the corpus per signal — each is a full corpus
        // pass at 100 TB
        val (keys, cand) = Dedup.md5StagedAndCandidates(
          docs, "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4)
        val jac = Dedup.jaccardPairs(keys, cand, threshold = 0.5)
          .select(col("a"), col("b"))
        // prefix-filtered containment: EXACTLY containmentPairs ≥ 0.9
        // (spec-proven equal) at a fraction of the pair-join work — the
        // Σdf² term was the whole super-linear cost of the ensemble at
        // the 10× slice (103 s → see NOTES)
        val cont = Dedup.containmentPairsPrefix(
            keys, threshold = 0.9, maxShingleDf = 100)
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
        val edges = jac.unionByName(cont).distinct()
        val nodes = docs.select(col("doc_id").as("node"))
        val cc = graft.operators.Curation.connectedComponentsStar(edges, nodes)
        val labeled = cc.join(
          docs.select(col("doc_id").as("node"), col("n_chars")), Seq("node"))
        graft.operators.Curation.bestInCluster(labeled, "n_chars")
          .withColumn("cluster_size",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("cluster_id"))))
          .select(col("node").as("doc_id"), col("cluster_id"),
            col("cluster_size"), col("n_chars"), col("keep_id"), col("kept"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        raw"""WITH RECURSIVE toks AS MATERIALIZED (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
             |), sh AS MATERIALIZED (
             |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
             |      list_distinct(list_transform(range(1, len(t) - 1),
             |        i -> array_to_string(t[i:i+2], ' ')))
             |    ELSE CAST([] AS VARCHAR[]) END AS sh
             |  FROM toks
             |), hs AS MATERIALIZED (
             |  SELECT doc_id, sh,
             |    list_transform(sh, x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)) AS harr
             |  FROM sh
             |), sigs AS MATERIALIZED (
             |  SELECT doc_id,
             |    list_transform(range(0, 16), i -> list_min(list_transform(harr,
             |      h -> ((h >> 30) + i * (h & 1073741823)) % 1073741789))) AS sig
             |  FROM hs WHERE len(sh) > 0
             |), buckets AS MATERIALIZED (
             |  SELECT s.doc_id, b.band,
             |    array_to_string(s.sig[b.band*4+1 : b.band*4+4], ',') AS bucket
             |  FROM sigs s CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
             |), cand AS MATERIALIZED (
             |  SELECT l.doc_id AS a, r.doc_id AS b
             |  FROM buckets l JOIN buckets r USING (band, bucket)
             |  WHERE l.doc_id < r.doc_id
             |  GROUP BY 1, 2
             |), ver AS MATERIALIZED (
             |  SELECT c.a AS a, c.b AS b,
             |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             |      / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) AS jaccard
             |  FROM cand c JOIN hs x ON x.doc_id = c.a JOIN hs y ON y.doc_id = c.b
             |), jac_edges AS MATERIALIZED (
             |  SELECT a, b FROM ver WHERE jaccard >= 0.5
             |), cex AS MATERIALIZED (
             |  SELECT doc_id, unnest(sh) AS s FROM sh
             |), hot AS MATERIALIZED (
             |  SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df
             |                 FROM cex GROUP BY s) WHERE df > 100
             |), csh AS MATERIALIZED (
             |  SELECT * FROM cex WHERE s NOT IN (SELECT s FROM hot)
             |), cn AS MATERIALIZED (
             |  SELECT doc_id, count(*) AS n_sh FROM csh GROUP BY 1
             |), cdf AS MATERIALIZED (
             |  SELECT s, count(*) AS dfk FROM csh GROUP BY s
             |), cranked AS MATERIALIZED (
             |  SELECT c.doc_id, c.s,
             |    row_number() OVER (PARTITION BY c.doc_id ORDER BY d.dfk, c.s) AS r,
             |    n.n_sh
             |  FROM csh c JOIN cdf d USING (s) JOIN cn n USING (doc_id)
             |), cprefix AS MATERIALIZED (
             |  SELECT doc_id, s FROM cranked
             |  WHERE r <= CAST(FLOOR((CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE)) * n_sh) AS BIGINT) + 2
             |), ccand AS MATERIALIZED (
             |  SELECT DISTINCT p.doc_id AS pa, y.doc_id AS pb
             |  FROM cprefix p JOIN csh y USING (s)
             |  WHERE p.doc_id <> y.doc_id
             |), clists AS MATERIALIZED (
             |  SELECT doc_id, list(s ORDER BY s) AS ls FROM csh GROUP BY doc_id
             |), cont_edges AS MATERIALIZED (
             |  SELECT LEAST(c.pa, c.pb) AS a, GREATEST(c.pa, c.pb) AS b
             |  FROM ccand c
             |  JOIN clists xa ON xa.doc_id = c.pa
             |  JOIN cn na ON na.doc_id = c.pa
             |  JOIN clists xb ON xb.doc_id = c.pb
             |  WHERE CAST(len(list_intersect(xa.ls, xb.ls)) AS DOUBLE) / na.n_sh >= 0.9
             |), all_edges AS MATERIALIZED (
             |  SELECT a, b FROM jac_edges UNION SELECT a, b FROM cont_edges
             |), sym2 AS MATERIALIZED (
             |  SELECT a AS x, b AS y FROM all_edges
             |  UNION ALL SELECT b AS x, a AS y FROM all_edges
             |), reach AS (
             |  SELECT doc_id AS node, doc_id AS lab FROM documents
             |  UNION
             |  SELECT s.y AS node, r.lab FROM reach r JOIN sym2 s ON s.x = r.node
             |), lab AS MATERIALIZED (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
             |j AS MATERIALIZED (
             |  SELECT lab.node, lab.cluster_id, d.n_chars
             |  FROM lab JOIN documents d ON d.doc_id = lab.node
             |), rk AS MATERIALIZED (
             |  SELECT *, row_number() OVER (PARTITION BY cluster_id
             |    ORDER BY n_chars DESC, node) AS rn FROM j
             |), reps AS MATERIALIZED (SELECT cluster_id, node AS keep_id FROM rk WHERE rn = 1)
             |SELECT j.node AS doc_id, j.cluster_id,
             |  count(*) OVER (PARTITION BY j.cluster_id) AS cluster_size,
             |  j.n_chars, reps.keep_id, j.node = reps.keep_id AS kept
             |FROM j JOIN reps ON j.cluster_id = reps.cluster_id
             |ORDER BY doc_id""".stripMargin)),

    // ---- SimHash oracle twin: 60-bit fingerprint over the md5-derived
    // token hash (bit b set iff tokens with bit b set outnumber those
    // without), chunk-blocked nearest neighbor (4 x 15-bit chunks),
    // Hamming via bit_count(xor) — every step integer-exact, so the whole
    // fingerprint+NN pipeline hash-matches DuckDB. The native SimHash64
    // kernel stays the bench path. bench=false. ----
    QueryDef("dedup_simhash_oracle",
      (s, d) => {
        val nBits = 60; val maxHamming = 10
        def h60(x: Column): Column =
          conv(substring(md5(x.cast("binary")), 1, 15), 16, 10).cast("long")
        val toksD = array_distinct(split(trim(col("text")), "\\s+"))
        val hashed = Tables.documents(s, d)
          .select(col("doc_id"), transform(toksD, t => h60(t)).as("harr"))
        val n = size(col("harr"))
        val fpExpr = (0 until nBits).map { b =>
          when(size(filter(col("harr"),
            h => shiftright(h, b).bitwiseAND(lit(1L)) === lit(1L))) * 2 > n,
            lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _)
        val fps = hashed.select(col("doc_id"), fpExpr.as("simhash60"))
        val chunked = fps.select(col("doc_id"), col("simhash60"),
          explode(array((0 until 4).map(c =>
            struct(lit(c).as("chunk"),
              shiftright(col("simhash60"), c * 15).bitwiseAND(lit(32767L)).as("ck"))): _*))
            .as("c"))
          .select(col("doc_id"), col("simhash60"),
            col("c.chunk").as("chunk"), col("c.ck").as("ck"))
        val l = chunked.select(col("chunk"), col("ck"),
          col("doc_id").as("a"), col("simhash60").as("fa"))
        val r = chunked.select(col("chunk"), col("ck"),
          col("doc_id").as("b"), col("simhash60").as("fb"))
        val nn = l.join(r, Seq("chunk", "ck")).where(col("a") =!= col("b"))
          .withColumn("hamming",
            bit_count(col("fa").bitwiseXOR(col("fb"))).cast("int"))
          .where(col("hamming") <= maxHamming)
          .groupBy(col("a"))
          .agg(min(struct(col("hamming"), col("b"))).as("m"))
          .select(col("a").as("doc_id"),
            col("m.hamming").as("nn_hamming"), col("m.b").as("nn_id"))
        fps.join(nn, Seq("doc_id"), "left")
          .select(col("doc_id"), col("simhash60"), col("nn_id"), col("nn_hamming"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        raw"""WITH toks AS (
             |  SELECT doc_id,
             |    list_distinct(string_split_regex(trim(text), '\s+')) AS t
             |  FROM documents
             |), hs AS (
             |  SELECT doc_id,
             |    list_transform(t, x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)) AS harr
             |  FROM toks
             |), fps AS (
             |  SELECT doc_id,
             |    CAST(list_sum(list_transform(range(0, 60),
             |      b -> CASE WHEN 2 * len(list_filter(harr, h -> ((h >> b) & 1) = 1)) > len(harr)
             |           THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
             |      AS simhash60
             |  FROM hs
             |), chunked AS (
             |  SELECT f.doc_id, f.simhash60, c.chunk,
             |    (f.simhash60 >> (c.chunk * 15)) & 32767 AS ck
             |  FROM fps f CROSS JOIN (SELECT unnest([0,1,2,3]) AS chunk) c
             |), nn AS (
             |  SELECT l.doc_id AS doc_id,
             |    min(struct_pack(hamming := CAST(bit_count(xor(l.simhash60, r.simhash60)) AS INTEGER),
             |                    b := r.doc_id)) AS m
             |  FROM chunked l JOIN chunked r
             |    ON l.chunk = r.chunk AND l.ck = r.ck AND l.doc_id <> r.doc_id
             |  WHERE bit_count(xor(l.simhash60, r.simhash60)) <= 10
             |  GROUP BY l.doc_id
             |)
             |SELECT f.doc_id AS doc_id, f.simhash60 AS simhash60,
             |  m.b AS nn_id, m.hamming AS nn_hamming
             |FROM fps f LEFT JOIN nn ON f.doc_id = nn.doc_id
             |ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- unigram Jaccard between consecutive docs (oracle-checkable
    // window into the same similarity kernel the LSH verifier uses) ----
    QueryDef("text_jaccard_pairs",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val a = docs.select(col("doc_id").as("a_id"),
          TextAnalysis.tokens(col("text")).as("a_toks"))
        val b = docs.select(col("doc_id").as("b_id"),
          TextAnalysis.tokens(col("text")).as("b_toks"))
        a.join(b, col("b_id") === col("a_id") + 1)
          .select(col("a_id"), col("b_id"),
            Det.fixed(TextAnalysis.jaccard(col("a_toks"), col("b_toks")), 6).as("jaccard"))
          .orderBy(col("a_id"))
      },
      oracle = Some(
        raw"""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
             |  FROM documents
             |)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  (ROUND((
             |    CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) /
             |    CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE)) * 1000000, 0) / 1000000) AS jaccard
             |FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
             |ORDER BY a_id""".stripMargin)),

    // ---- Levenshtein edit distance between consecutive docs — the
    // character-level fuzzy-match primitive (both engines implement the
    // identical unit-cost DP, so the metric is integer-exact). O(n*m)
    // per pair: at scale this runs AFTER candidate pruning (LSH buckets,
    // length bands), never all-pairs — mirrored here by the id-adjacency
    // band. ----
    QueryDef("text_edit_distance",
      (s, d) => {
        val docs = Tables.documents(s, d).where(col("doc_id") < 100)
        val a = docs.select(col("doc_id").as("a_id"), col("text").as("a_text"))
        val b = docs.select(col("doc_id").as("b_id"), col("text").as("b_text"))
        a.join(b, col("b_id") === col("a_id") + 1)
          .select(col("a_id"), col("b_id"),
            levenshtein(col("a_text"), col("b_text")).as("edit_dist"),
            (lit(1.0) - levenshtein(col("a_text"), col("b_text")).cast("double") /
              greatest(length(col("a_text")), length(col("b_text"))).cast("double"))
              .as("similarity"))
          .orderBy(col("a_id"))
      },
      oracle = Some(
        """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  levenshtein(a.text, b.text) AS edit_dist,
          |  1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
          |    / CAST(greatest(length(a.text), length(b.text)) AS DOUBLE) AS similarity
          |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          |WHERE a.doc_id < 100 AND b.doc_id < 100
          |ORDER BY a_id""".stripMargin),
      bench = false),

    // ---- exact substring-span duplication (the "remove repeated spans"
    // op): per doc, fraction of tokens covered by word 5-grams occurring
    // in >= 2 documents — interval-union coverage, all exact integers,
    // hence fully oracle-hashable unlike hash-family near-dup ops. ----
    QueryDef("dedup_span_coverage",
      (s, d) => Dedup.spanDuplication(Tables.documents(s, d), "doc_id", "text", k = 5)
        .orderBy(col("doc_id")),
      oracle = Some(
        raw"""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
             |), pos_spans AS (
             |  SELECT doc_id, sp.pos AS pos, sp.span AS span
             |  FROM (
             |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
             |      i -> {'pos': i, 'span': array_to_string(t[i:i+4], ' ')})) AS sp
             |    FROM toks
             |  )
             |), dup AS (
             |  SELECT span FROM pos_spans GROUP BY span
             |  HAVING count(DISTINCT doc_id) >= 2
             |), contrib AS (
             |  SELECT p.doc_id,
             |    greatest(0, p.pos + 5 - greatest(coalesce(
             |      max(p.pos + 5) OVER (PARTITION BY p.doc_id ORDER BY p.pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
             |      p.pos)) AS c
             |  FROM pos_spans p JOIN dup USING (span)
             |), agg AS (
             |  SELECT doc_id, count(*) AS n_dup_spans,
             |    CAST(sum(c) AS BIGINT) AS covered_tokens
             |  FROM contrib GROUP BY 1
             |)
             |SELECT d.doc_id AS doc_id,
             |  CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT) AS n_tokens,
             |  coalesce(agg.n_dup_spans, 0) AS n_dup_spans,
             |  coalesce(agg.covered_tokens, 0) AS covered_tokens,
             |  CAST(coalesce(agg.covered_tokens, 0) AS DOUBLE)
             |    / CAST(len(string_split_regex(trim(d.text), '\s+')) AS DOUBLE) AS dup_ratio
             |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- END-TO-END curation pipeline (the training-data story in one
    // query): language-ID -> quality gate -> exact content dedup (keep
    // lowest doc_id per fingerprint) -> per-source corpus stats. One
    // scan, one window over the fingerprint hash-partition, one group-by:
    // at 100 TB this is scan + 2 shuffles (fp, source), no iteration.
    // Every stage reuses an individually-oracled operator, and the
    // composite is oracled as one SQL pipeline too. ----
    QueryDef("curation_pipeline",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val f = TextAnalysis.qualityFeatures(col("text"))
        val staged = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextAnalysis.langPredict(col("text")).as("pred_lang"),
            Det.fixed(f.getField("quality_score"), 6).as("q"),
            f.getField("n_tokens").as("n_tokens"),
            TextAnalysis.fingerprint(col("text")).as("fp"))
        staged
          .withColumn("keeper_id",
            min(col("doc_id")).over(Window.partitionBy(col("fp"))))
          .where(col("doc_id") === col("keeper_id") &&
            col("pred_lang") === "en" && col("q") >= 0.5)
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("total_tokens"),
            Det.fixedSum(col("q"), 6).as("sum_quality"))
          .orderBy(col("source"))
      },
      oracle = Some {
        val entries = TextAnalysis.stopwords.toSeq.sortBy(_._1).map { case (langCode, words) =>
          val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
          s"{'hits': len(list_intersect(t, $lst)), 'lang': '$langCode'}"
        }.mkString(",\n             |      ")
        raw"""WITH feats AS (
             |  SELECT doc_id, source,
             |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
             |      / len(string_split_regex(trim(text), '\s+')) AS avg_word_len,
             |    CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
             |      / length(text) AS punct_ratio,
             |    list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS t,
             |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |  FROM documents
             |), scored AS (
             |  SELECT doc_id, source, fp, n_tokens,
             |    (ROUND((1.0 / (1.0 + exp(-(0.01 * n_tokens + 1.0 * avg_word_len
             |      - 20.0 * punct_ratio - 3.0)))) * 1000000, 0) / 1000000) AS q,
             |    list_sort([
             |      $entries])[-1].lang AS pred_lang,
             |    min(doc_id) OVER (PARTITION BY fp) AS keeper_id
             |  FROM feats
             |)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             |  ${Det.fixedSumSql("q", 6)} AS sum_quality
             |FROM scored
             |WHERE doc_id = keeper_id AND pred_lang = 'en' AND q >= 0.5
             |GROUP BY source ORDER BY source""".stripMargin
      },
      // bench-rotated OUT round 10 (flat 0.5-0.8 s since r7)
      bench = false),

    // ---- unigram-LM surprisal: the perplexity-filter shape without an
    //      external model — token logprob = ln(corpus_freq), per-doc mean.
    //      Per-token logs are integerized (Det) so the doc sum is exact;
    //      the mean is a ratio of bit-identical inputs. The 100 TB form
    //      is identical: the token-frequency table is corpus-wide state
    //      (broadcast below ~GB vocab, else a shuffle join on token). ----
    QueryDef("text_unigram_surprisal",
      (s, d) => {
        // cnt (vocab-sized, ≪ the token stream) feeds the total AND the
        // score join — shared so the vocab aggregation runs once; the
        // token explode recomputes (larger than its source, see
        // Stage.share)
        val toks = Tables.documents(s, d).select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        val cnt = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .stageShare()
        val tot = cnt.agg(sum(col("c")).as("t"))
        toks.join(cnt, Seq("tok"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            Det.toFixed(log(col("c").cast("double") / col("t").cast("double")), 9)
              .as("lp"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("slp"))
          .select(col("doc_id"), col("n_tokens"),
            ((col("slp").cast("double") / lit(1e9)) / col("n_tokens").cast("double"))
              .as("avg_token_logprob"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        raw"""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents
             |),
             |cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
             |tot AS (SELECT SUM(c) AS t FROM cnt),
             |scored AS (
             |  SELECT toks.doc_id,
             |    ${Det.toFixedSql(
                    "ln(CAST(cnt.c AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE))", 9)} AS lp
             |  FROM toks JOIN cnt USING (tok)
             |)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |  (CAST(SUM(lp) AS DOUBLE) / CAST(1000000000 AS DOUBLE))
             |    / CAST(COUNT(*) AS DOUBLE) AS avg_token_logprob
             |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- Gopher-style repetition stats: distinct-token ratio and the
    //      token fraction covered by the top bigram — pure integer
    //      arithmetic end-to-end (ratios of exact counts), no
    //      transcendental ulp exposure at all. ----
    QueryDef("text_repetition_stats",
      (s, d) => {
        val toksOf = TextAnalysis.tokens(col("text"))
        val base = Tables.documents(s, d)
          .select(col("doc_id"), toksOf.as("toks"))
        base.select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("long").as("n_unique"),
            explode(zip_with(
              slice(col("toks"), lit(1), size(col("toks")) - 1),
              slice(col("toks"), lit(2), size(col("toks")) - 1),
              (a, b) => concat(a, lit(" "), b))).as("bigram"))
          .groupBy(col("doc_id"), col("n_tokens"), col("n_unique"), col("bigram"))
          .agg(count(lit(1)).as("bc"))
          .groupBy(col("doc_id"), col("n_tokens"), col("n_unique"))
          .agg(max(col("bc")).as("top_bigram_count"))
          .select(col("doc_id"), col("n_tokens"), col("n_unique"),
            (col("n_unique").cast("double") / col("n_tokens").cast("double"))
              .as("unique_ratio"),
            col("top_bigram_count"),
            ((col("top_bigram_count") * 2).cast("double") / col("n_tokens").cast("double"))
              .as("top_bigram_token_frac"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        raw"""WITH t AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |),
             |b AS (
             |  SELECT doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
             |    unnest(list_transform(range(1, len(toks)),
             |      i -> toks[i] || ' ' || toks[i + 1])) AS bigram
             |  FROM t
             |),
             |c AS (
             |  SELECT doc_id, n_tokens, n_unique, bigram, COUNT(*) AS bc
             |  FROM b GROUP BY doc_id, n_tokens, n_unique, bigram
             |),
             |m AS (
             |  SELECT doc_id, n_tokens, n_unique, MAX(bc) AS top_bigram_count
             |  FROM c GROUP BY doc_id, n_tokens, n_unique
             |)
             |SELECT doc_id, n_tokens, n_unique,
             |  CAST(n_unique AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS unique_ratio,
             |  top_bigram_count,
             |  CAST(top_bigram_count * 2 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             |    AS top_bigram_token_frac
             |FROM m ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- BM25 ranking: the retrieval scorer of a training-data search /
    //      decontamination stack. Corpus stats (N, avgdl) are ONE tiny
    //      aggregate broadcast to every row; document frequencies of the
    //      query terms are a 3-row broadcast; the only shuffle keyed by
    //      doc is the tf/dl aggregation. Per-(doc,term) scores are
    //      integerized (ln ulp) then summed exactly, so the ranking and
    //      the score hash are cross-engine-exact. ----
    QueryDef("text_bm25_topk",
      (s, d) => {
        val terms = Seq("join", "hash", "scan")
        // dl (one row/doc, ≪ the token stream) feeds corpus AND the
        // score join — shared so it aggregates once. toks itself is
        // deliberately NOT materialized: the exploded stream is larger
        // than the source text, so recomputing the codegen'd tokenize
        // for tf is cheaper than writing/reading the cache.
        val toks = Tables.documents(s, d).select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
          .stageShare()
        val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        val tf = toks.where(col("tok").isin(terms: _*))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val k1 = lit(1.2)
        val b = lit(0.75)
        val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
        val idf = log(
          (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)) + lit(1.0))
        val norm = col("tf").cast("double") * (k1 + lit(1.0)) /
          (col("tf").cast("double") +
            k1 * (lit(1.0) - b + b * col("dl").cast("double") / avgdl))
        tf.join(broadcast(dfreq), Seq("tok"))
          .join(dl, Seq("doc_id"))
          .crossJoin(broadcast(corpus))
          .select(col("doc_id"), Det.toFixed(idf * norm, 9).as("s_int"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_terms_hit"), sum(col("s_int")).as("si"))
          .select(col("doc_id"), col("n_terms_hit"),
            (col("si").cast("double") / lit(1e9)).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(50)
      },
      oracle = Some {
        val idfSql = "ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))" +
          " / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))"
        val normSql = "CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))" +
          " / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)" +
          " + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
        raw"""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents
             |),
             |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
             |corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
             |tf AS (
             |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
             |  WHERE tok IN ('join', 'hash', 'scan') GROUP BY doc_id, tok
             |),
             |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
             |scored AS (
             |  SELECT tf.doc_id,
             |    ${Det.toFixedSql(s"($idfSql) * ($normSql)", 9)} AS s_int
             |  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN corpus
             |)
             |SELECT doc_id, COUNT(*) AS n_terms_hit,
             |  CAST(SUM(s_int) AS DOUBLE) / 1000000000 AS bm25
             |FROM scored GROUP BY doc_id
             |ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin
      }),

    // ---- Hybrid retrieval: BM25 lexical ranking fused with dense cosine
    //      ranking by reciprocal-rank fusion (RRF, k=60) — the standard
    //      two-ranker front-end of a RAG / training-data search stack.
    //      Each ranker first cuts a bounded top-50 shortlist with a
    //      DISTRIBUTED reduction (BM25: TakeOrdered over the scored agg;
    //      dense: per-qid WindowGroupLimit), so everything downstream of
    //      the corpus-scale work is ≤50 rows per ranker. The lexical
    //      shortlist is ranked by a broadcast triangular count-join, not
    //      a window — the catalog's no-unpartitioned-window rule holds
    //      even on bounded inputs. RRF terms 1/(60+rank) are IEEE
    //      divisions of exact integer ranks added in a fixed order, so
    //      the fused score is cross-engine bit-identical. ----
    QueryDef("text_hybrid_rrf",
      (s, d) => {
        val terms = Seq("join", "hash", "scan")
        val toks = Tables.documents(s, d).select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
          .stageShare()
        val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        val tf = toks.where(col("tok").isin(terms: _*))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val k1 = lit(1.2)
        val b = lit(0.75)
        val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
        val idf = log(
          (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)) + lit(1.0))
        val norm = col("tf").cast("double") * (k1 + lit(1.0)) /
          (col("tf").cast("double") +
            k1 * (lit(1.0) - b + b * col("dl").cast("double") / avgdl))
        // shortlist shared by both sides of the rank self-join (the
        // whole BM25 pipeline would otherwise run twice)
        val bmTop = tf.join(broadcast(dfreq), Seq("tok"))
          .join(dl, Seq("doc_id"))
          .crossJoin(broadcast(corpus))
          .select(col("doc_id"), Det.toFixed(idf * norm, 9).as("s_int"))
          .groupBy(col("doc_id"))
          .agg(sum(col("s_int")).as("si"))
          .orderBy(col("si").desc, col("doc_id")).limit(50)
          .stageShare()
        // rank within the ≤50-row shortlist: rank(x) = #{y ordered at
        // or before x} under (si desc, doc_id) — row_number semantics
        val lexRank = bmTop.as("x")
          .join(broadcast(bmTop.as("y")),
            col("y.si") > col("x.si") ||
              (col("y.si") === col("x.si") &&
                col("y.doc_id") <= col("x.doc_id")))
          .groupBy(col("x.doc_id"))
          .agg(count(lit(1)).as("rank_bm25"))
        // dense ranker: one standing query vector (vec_id 0; the doc_id
        // and vec_id spaces are parallel). bruteForceTopK excludes the
        // query vector itself from its neighbor list.
        val qv = Tables.embeddings(s, d).where(col("vec_id") === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val denseRank = Similarity
          .bruteForceTopK(Tables.embeddings(s, d), qv, k = 50)
          .select(col("neighbor_id").as("doc_id"),
            col("rank").cast("bigint").as("rank_cos"))
        lexRank.join(denseRank, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("rank_bm25"), col("rank_cos"),
            (coalesce(lit(1.0) / (lit(60) + col("rank_bm25")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rank_cos")), lit(0.0)))
              .as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      },
      oracle = Some {
        val idfSql = "ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))" +
          " / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))"
        val normSql = "CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))" +
          " / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)" +
          " + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
        val cosSql =
          """list_sum(list_transform(list_zip(q.embedding, c.embedding),
            |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
            |  / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            |   * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        raw"""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents
             |),
             |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
             |corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
             |tf AS (
             |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
             |  WHERE tok IN ('join', 'hash', 'scan') GROUP BY doc_id, tok
             |),
             |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
             |scored AS (
             |  SELECT tf.doc_id,
             |    ${Det.toFixedSql(s"($idfSql) * ($normSql)", 9)} AS s_int
             |  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN corpus
             |),
             |bm AS (
             |  SELECT doc_id, CAST(SUM(s_int) AS BIGINT) AS si
             |  FROM scored GROUP BY doc_id
             |  ORDER BY si DESC, doc_id LIMIT 50
             |),
             |lex AS (
             |  SELECT doc_id,
             |    row_number() OVER (ORDER BY si DESC, doc_id) AS rank_bm25
             |  FROM bm
             |),
             |dscored AS (
             |  SELECT c.vec_id AS doc_id,
             |    ${Det.fixedSql(cosSql, 6)} AS cos
             |  FROM embeddings q JOIN embeddings c
             |    ON q.vec_id = 0 AND c.vec_id <> 0
             |),
             |dranked AS (
             |  SELECT doc_id,
             |    row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_cos
             |  FROM dscored
             |),
             |dense AS (SELECT doc_id, rank_cos FROM dranked WHERE rank_cos <= 50)
             |SELECT doc_id, rank_bm25, rank_cos,
             |  COALESCE(CAST(1.0 AS DOUBLE) / (60 + rank_bm25), CAST(0.0 AS DOUBLE)) +
             |  COALESCE(CAST(1.0 AS DOUBLE) / (60 + rank_cos), CAST(0.0 AS DOUBLE)) AS rrf
             |FROM lex FULL OUTER JOIN dense USING (doc_id)
             |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
      },
      bench = false),

    // ---- Bigram language model with additive smoothing, scored back over
    //      the corpus — the perplexity-filter shape one step up from
    //      text_unigram_surprisal. Context counts derive from the bigram
    //      table (one extra tiny aggregate, no second corpus pass);
    //      per-bigram logprobs are integerized then summed exactly. ----
    QueryDef("text_bigram_lm",
      (s, d) => {
        // base (token arrays) feeds bg AND vocab; bg feeds c2 AND the
        // c2 (bigram-vocab counts, ≪ the bigram stream) feeds c1 AND
        // the score join — shared so the count aggregation runs once.
        // base/bg are NOT materialized: token arrays and the exploded
        // bigram stream are larger than the source text, so the
        // codegen'd tokenize+explode recompute beats a cache round-trip.
        val base = Tables.documents(s, d)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        val bg = base.select(col("doc_id"),
            explode(zip_with(
              slice(col("toks"), lit(1), size(col("toks")) - 1),
              slice(col("toks"), lit(2), size(col("toks")) - 1),
              (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
          .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
          .stageShare()
        val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
        val vocab = base.select(explode(col("toks")).as("tok"))
          .agg(count_distinct(col("tok")).as("v"))
        val lp = log(
          (col("c2").cast("double") + lit(0.5)) /
            (col("c1").cast("double") + lit(0.5) * col("v").cast("double")))
        bg.join(c2, Seq("w1", "w2"))
          .join(broadcast(c1), Seq("w1"))
          .crossJoin(broadcast(vocab))
          .select(col("doc_id"), Det.toFixed(lp, 9).as("lp"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
          .select(col("doc_id"), col("n_bigrams"),
            ((col("slp").cast("double") / lit(1e9)) /
              col("n_bigrams").cast("double")).as("avg_bigram_logprob"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        raw"""WITH t AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |),
             |bg AS (
             |  SELECT doc_id,
             |    struct_extract(p, 'w1') AS w1, struct_extract(p, 'w2') AS w2
             |  FROM (
             |    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
             |      i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
             |    FROM t)
             |),
             |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
             |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
             |vocab AS (
             |  SELECT COUNT(DISTINCT tok) AS v FROM (
             |    SELECT unnest(toks) AS tok FROM t)
             |),
             |scored AS (
             |  SELECT bg.doc_id,
             |    ${Det.toFixedSql(
                    "ln((CAST(c2 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
                      "(CAST(c1 AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(v AS DOUBLE)))", 9)} AS lp
             |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
             |)
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |  (CAST(SUM(lp) AS DOUBLE) / CAST(1000000000 AS DOUBLE))
             |    / CAST(COUNT(*) AS DOUBLE) AS avg_bigram_logprob
             |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      bench = false),

    // ---- Inverted index build: term -> document frequency + a capped,
    //      sorted posting list. The classic retrieval-index construction
    //      pass: ONE shuffle keyed by term; collect_set keeps postings
    //      deduplicated map-side, sort_array makes the list order
    //      deterministic for the hash compare. ----
    QueryDef("text_inverted_index",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(
          count_distinct(col("doc_id")).as("df"),
          // comma-joined string, not array<bigint>: the driver's pandas
          // row-sort cannot order list cells (round-3 harness err)
          array_join(slice(sort_array(collect_set(col("doc_id"))), 1, 100), ",")
            .as("postings"))
        .orderBy(col("tok")),
      oracle = Some(
        raw"""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents
             |)
             |SELECT tok, COUNT(DISTINCT doc_id) AS df,
             |  array_to_string(list_sort(list(DISTINCT doc_id))[1:100], ',') AS postings
             |FROM toks GROUP BY tok ORDER BY tok""".stripMargin)),

    // ---- Suffix-array span mining (Dedup.suffixSpanDuplicates): every
    //      maximal repeated span >= 4 tokens via sorted-suffix adjacent
    //      LCPs — the granularity-free upgrade of the k-gram span dedup
    //      (NOTES.md round-4 candidate). Two-token bucketing (min(minLen,2))
    //      keeps the suffix-sort window distributed-exact while splitting
    //      hot stopword-headed buckets; suffix payloads truncate at 256
    //      tokens on BOTH engines (span_len saturates at the cap).
    //      Top-100 by span length. ----
    // maxSuffixLen = 128 (vs the conservative library default 256): the
    // fixture corpus' longest repeated span is ~99 tokens, so the halved
    // cap is bit-identical output at HALF the window-sort payload — the
    // sort-buffer pressure behind round-6's GC-taxed rep transients. If a
    // regen ever grows spans past the cap, BOTH engines saturate at 128
    // consistently (the oracle below slices the same cap), so the hash
    // check still holds.
    QueryDef("dedup_span_suffix",
      (s, d) => Dedup.suffixSpanDuplicates(
          Tables.documents(s, d), "doc_id", "text", minLen = 4,
          maxSuffixLen = 128)
        .orderBy(col("span_len").desc, col("span"))
        .limit(100),
      oracle = Some(
        raw"""WITH t AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |),
             |suf AS (
             |  SELECT doc_id, i AS pos, toks[i:i+127] AS suf,
             |    array_to_string(toks[i:i+127], ' ') AS sstr,
             |    array_to_string(toks[i:i+1], ' ') AS bucket
             |  FROM (SELECT doc_id, toks,
             |          unnest(generate_series(1, len(toks))) AS i FROM t)
             |),
             |adj AS (
             |  SELECT doc_id, pos, suf,
             |    lag(suf) OVER (PARTITION BY bucket ORDER BY sstr, doc_id, pos) AS psuf,
             |    lag(doc_id) OVER (PARTITION BY bucket ORDER BY sstr, doc_id, pos) AS pdoc
             |  FROM suf
             |),
             |lcp AS (
             |  SELECT doc_id, pdoc, suf,
             |    CASE WHEN mism IS NULL OR mism = 0
             |         THEN least(len(suf), len(psuf))
             |         ELSE mism - 1 END AS lcp
             |  FROM (
             |    SELECT *, list_position(
             |        list_transform(generate_series(1, least(len(suf), len(psuf))),
             |          i -> suf[i] = psuf[i]), false) AS mism
             |    FROM adj WHERE psuf IS NOT NULL)
             |)
             |SELECT array_to_string(suf[1:lcp], ' ') AS span,
             |  CAST(lcp AS BIGINT) AS span_len,
             |  COUNT(*) AS n_pairs,
             |  COUNT(CASE WHEN doc_id <> pdoc THEN 1 END) AS n_cross_doc
             |FROM lcp WHERE lcp >= 4
             |GROUP BY span, span_len
             |ORDER BY span_len DESC, span LIMIT 100""".stripMargin)),

    // ---- context-window chunking (training-data pipeline: split long
    //      docs into overlapping token windows for a fixed context
    //      length). Starts at 0, stride 48, window 64 (16-token overlap);
    //      tail chunks may be short. One Generate per doc — the chunk
    //      payload never materializes outside the stage; embarrassingly
    //      parallel at any scale. ----
    QueryDef("chunk_documents",
      (s, d) => {
        val C = 64
        val S = 48
        val t = Tables.documents(s, d)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
        val chunk = slice(col("t"), col("start") + 1, lit(C))
        t.select(col("doc_id"), col("t"),
            posexplode(sequence(lit(0), greatest(size(col("t")) - 1, lit(0)), lit(S))))
          .withColumnRenamed("pos", "chunk_id").withColumnRenamed("col", "start")
          .select(
            col("doc_id"),
            col("chunk_id").cast("long").as("chunk_id"),
            col("start").cast("long").as("start_tok"),
            size(chunk).cast("long").as("n_tokens"),
            md5(concat_ws(" ", chunk).cast("binary")).as("chunk_fp"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      oracle = Some(
        raw"""WITH t AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
             |  FROM documents
             |),
             |st AS (
             |  SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 48)) AS g
             |  FROM t
             |)
             |SELECT doc_id, CAST(g // 48 AS BIGINT) AS chunk_id,
             |  CAST(g AS BIGINT) AS start_tok,
             |  CAST(len(list_slice(t, g + 1, g + 64)) AS BIGINT) AS n_tokens,
             |  md5(array_to_string(list_slice(t, g + 1, g + 64), ' ')) AS chunk_fp
             |FROM st
             |ORDER BY doc_id, chunk_id""".stripMargin),
      bench = false),

    // ---- TF-IDF top terms per document (smooth idf = ln((N+1)/(df+1))+1,
    //      sklearn-style). Vocabulary aggregate + corpus count broadcast
    //      to the term-frequency table; ranking by integerized score then
    //      term keeps the top-3 cut engine-deterministic (log ulp wobble
    //      dies in the 1e-9 rounding). ----
    QueryDef("text_tfidf_topk",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // tf feeds dfT AND the score join — staged so the tokenize +
        // (doc, term) aggregation run once
        val tf = docs
          .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
          .stageShare()
        val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(broadcast(dfT), "term")
          .crossJoin(broadcast(n))
          .withColumn("score",
            col("tf") * (log((col("n_docs") + 1) / (col("df") + 1)) + 1))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(Det.toFixed(col("score"), 9).desc, col("term"))
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("term"),
            col("tf"), col("df"), Det.fixed(col("score"), 6).as("tfidf"))
          .orderBy(col("doc_id"), col("rnk"))
      },
      oracle = Some(
        raw"""WITH tf AS (
             |  SELECT doc_id, t AS term, count(*) AS tf
             |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
             |        FROM documents)
             |  GROUP BY 1, 2
             |),
             |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
             |    tf.tf * (ln((n.n_docs + 1) / (dft.df + 1)) + 1) AS score
             |  FROM tf, dft, n WHERE tf.term = dft.term
             |),
             |ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY CAST(ROUND(score * 1000000000, 0) AS BIGINT) DESC, term) AS rnk
             |  FROM scored
             |)
             |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df,
             |  (ROUND(score * 1000000, 0) / 1000000) AS tfidf
             |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
      bench = false),

    // ---- pointwise mutual information of token co-occurrence (collocation
    //      mining / vocab-graph edges): document-frequency PMI over distinct
    //      tokens per doc, pairs a < b with support >= 5. The per-doc
    //      distinct-token self-join is the O(v²)-per-doc step — at corpus
    //      scale restrict the vocabulary first (df floor) so the pair space
    //      stays bounded; counts are exact integers, PMI integerized. ----
    QueryDef("text_pmi_pairs",
      (s, d) => {
        val minSupport = pmiMinSupport
        val docs = Tables.documents(s, d)
        // toksF (the df-floored subset) feeds BOTH self-join sides —
        // shared so the floor join runs once. The raw token explode is
        // NOT materialized (larger than the source text; codegen'd
        // recompute for dfA is cheaper than a cache round-trip).
        val toks = docs.select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
        val dfA = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        // df-floor BEFORE the per-doc self-join: bounds the O(v²)-per-doc
        // pair space by the supported vocabulary instead of the full one
        val toksF = toks.join(
          broadcast(dfA.where(col("df") >= minSupport).select(col("tok"))),
          Seq("tok"))
          .stageShare()
        val pairs = toksF.as("x")
          .join(toksF.as("y"),
            col("x.doc_id") === col("y.doc_id") && col("x.tok") < col("y.tok"))
          .groupBy(col("x.tok").as("a"), col("y.tok").as("b"))
          .agg(count(lit(1)).as("dfab"))
          .filter(col("dfab") >= minSupport)
        val n = docs.agg(count(lit(1)).as("n_docs"))
        pairs
          .join(broadcast(dfA.withColumnRenamed("tok", "a").withColumnRenamed("df", "dfa")), "a")
          .join(broadcast(dfA.withColumnRenamed("tok", "b").withColumnRenamed("df", "dfb")), "b")
          .crossJoin(broadcast(n))
          // widen to double BEFORE the products: dfab·n_docs (and
          // dfa·dfb) are Long products that wrap silently at
          // multi-billion-doc corpora while the DuckDB side promotes
          .withColumn("pmi", log(
            col("dfab").cast("double") * col("n_docs").cast("double")
              / (col("dfa").cast("double") * col("dfb").cast("double"))))
          .orderBy(Det.toFixed(col("pmi"), 9).desc, col("a"), col("b"))
          .limit(20)
          .select(col("a"), col("b"), col("dfab"), col("dfa"), col("dfb"),
            Det.fixed(col("pmi"), 6).as("pmi"))
      },
      oracle = Some(
        raw"""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
             |  FROM documents
             |),
             |dfa AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
             |pairs AS (
             |  SELECT x.tok AS a, y.tok AS b, count(*) AS dfab
             |  FROM toks x, toks y
             |  WHERE x.doc_id = y.doc_id AND x.tok < y.tok
             |  GROUP BY 1, 2 HAVING count(*) >= $pmiMinSupport
             |),
             |n AS (SELECT count(*) AS n_docs FROM documents)
             |SELECT p.a, p.b, p.dfab, fa.df AS dfa, fb.df AS dfb,
             |  (ROUND(ln(CAST(p.dfab AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
             |    / (CAST(fa.df AS DOUBLE) * CAST(fb.df AS DOUBLE))) * 1000000, 0) / 1000000) AS pmi
             |FROM pairs p, dfa fa, dfa fb, n
             |WHERE p.a = fa.tok AND p.b = fb.tok
             |ORDER BY CAST(ROUND(ln(CAST(p.dfab AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
             |    / (CAST(fa.df AS DOUBLE) * CAST(fb.df AS DOUBLE))) * 1000000000, 0) AS BIGINT) DESC,
             |  p.a, p.b LIMIT 20""".stripMargin),
      bench = false),

    // ---- shingle CONTAINMENT (asymmetric near-dup: C(A→B) =
    //      |sh(A)∩sh(B)| / |sh(A)| — catches quotes/subsets that Jaccard
    //      misses when |A| ≪ |B|). Same shingle-join machinery as the
    //      symmetric dedups; containment is a ratio of exact integer
    //      counts so the threshold cut and ordering are engine-exact.
    //      Hot-shingle guard: shingles in > 100 docs are dropped on BOTH
    //      engines before the self-join (stop-shingles carry no
    //      containment signal, and one viral shingle is a quadratic
    //      bucket — the simhash/minhash maxBucketSize story); the join
    //      key is xxhash64(shingle), 8-byte shuffle rows. ----
    QueryDef("dedup_containment",
      (s, d) =>
        // prefix-filtered variant: spec-proven row-identical to
        // containmentPairs ≥ 0.5; the Σdf² pair explosion collapses to
        // Σ(df_prefix·df) + one array-verify per candidate (multi-signal
        // measured −84% at the 10× slice from this switch)
        // the verify lookups broadcast by the size rule (Dedup
        // scaladoc): pair rows stream through map-side array probes while
        // the doc→array table is under the broadcast threshold, and the
        // same plan shuffles past it
        Dedup.containmentPairsPrefix(
            Dedup.keys(Tables.documents(s, d), "doc_id", "text", 3),
            threshold = 0.5, maxShingleDf = 100)
          .orderBy(col("containment").desc, col("a"), col("b"))
          .limit(50)
          .select(col("a"), col("b"), col("shared"), col("n_a"), col("n_b"),
            col("containment")),
      oracle = Some(
        raw"""WITH sh0 AS (
             |  SELECT doc_id, unnest(list_distinct(
             |    CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
             |    ELSE list_transform(range(1, len(t) - 1),
             |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)) AS s
             |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
             |        FROM documents)
             |),
             |hot AS (
             |  SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df
             |                 FROM sh0 GROUP BY s) WHERE df > 100
             |),
             |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
             |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
             |pairs AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
             |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id <> y.doc_id
             |  GROUP BY 1, 2
             |)
             |SELECT p.a, p.b, p.shared, na.n_sh AS n_a, nb.n_sh AS n_b,
             |  CAST(p.shared AS DOUBLE) / na.n_sh AS containment
             |FROM pairs p, n na, n nb
             |WHERE p.a = na.doc_id AND p.b = nb.doc_id
             |  AND CAST(p.shared AS DOUBLE) / na.n_sh >= 0.5
             |ORDER BY containment DESC, p.a, p.b LIMIT 50""".stripMargin)),

    // ---- per-source token-budget quota fill (data-mixture budgeting):
    //      each source contributes its best documents — ordered by
    //      quality score DESC, doc_id ASC — until the source's token
    //      budget is exhausted (a document STARTING under budget is kept
    //      whole, the standard greedy-fill convention). The order is
    //      packed into one BIGINT sort key ((1e6 − qfix)·2^33 + doc_id,
    //      exact for doc_id < 2^33 ≈ 8.6e9 docs), and the per-source
    //      running token count is the GROUPED RangeCum prefix — range-
    //      partitioned on (source, key), so one hot source never lands
    //      in a single window task. Quality is the text_quality_score
    //      sigmoid at 1e-6 fixed precision; token counts are exact
    //      integers — bit-identical cross-engine. ----
    QueryDef("curation_quota_sample",
      (s, d) => {
        val budget = 600L
        val f = TextAnalysis.qualityFeatures(col("text"))
        val docs = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
            Det.toFixed(f.getField("quality_score"), 6).as("qfix"))
          .withColumn("okey",
            (lit(1000000L) - col("qfix")) * lit(8589934592L) + col("doc_id"))
        val cum = graft.operators.RangeCum.withCumsGrouped(
          docs, Seq("source"), "okey",
          Seq(graft.operators.RangeCum.Cum("n_tokens", "cum_before",
            inclusive = false)))
        cum.withColumn("cum_before", coalesce(col("cum_before"), lit(0L)))
          .where(col("cum_before") < budget)
          .select(col("source"), col("doc_id"), col("n_tokens"),
            (col("qfix").cast("double") / lit(1e6)).as("quality"),
            col("cum_before"))
          .orderBy(col("source"), col("cum_before"))
      },
      oracle = Some(
        raw"""WITH feats AS (
             |  SELECT source, doc_id,
             |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
             |      / len(string_split_regex(trim(text), '\s+')) AS awl,
             |    CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
             |      AS DOUBLE) / length(text) AS pr
             |  FROM documents
             |),
             |keyed AS (
             |  SELECT source, doc_id, n_tokens,
             |    ${Det.toFixedSql(
                  "1.0 / (1.0 + exp(-(0.01 * n_tokens + 1.0 * awl " +
                    "- 20.0 * pr - 3.0)))", 6)} AS qfix
             |  FROM feats
             |),
             |c AS (
             |  SELECT source, doc_id, n_tokens, qfix,
             |    CAST(COALESCE(SUM(n_tokens) OVER (
             |      PARTITION BY source
             |      ORDER BY (1000000 - qfix) * 8589934592 + doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS cum_before
             |  FROM keyed
             |)
             |SELECT source, doc_id, n_tokens,
             |  CAST(qfix AS DOUBLE) / 1000000 AS quality, cum_before
             |FROM c WHERE cum_before < 600
             |ORDER BY source, cum_before""".stripMargin),
      bench = false),

    // ---- file-compaction layout planner (the small-files problem):
    //      assign documents, in doc_id order within each lang partition,
    //      to sequential output files of ~targetBytes — file_id =
    //      ⌊bytes_before / target⌋, so a file absorbs the document that
    //      crosses the boundary (files overflow by at most one document,
    //      the standard size-targeted writer convention) and an
    //      over-target document gets a file of its own. The running byte
    //      count is the GROUPED RangeCum prefix — no per-lang window
    //      task, so the planner itself scales to partitions with
    //      billions of rows (its output is the file manifest, data/target
    //      rows). Everything is exact integer arithmetic (floor on
    //      doubles ≤ 2^53). ----
    QueryDef("layout_file_compaction",
      (s, d) => {
        val target = 8192.0
        val docs = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"), col("n_chars"))
        val cum = graft.operators.RangeCum.withCumsGrouped(
          docs, Seq("lang"), "doc_id",
          Seq(graft.operators.RangeCum.Cum("n_chars", "cb",
            inclusive = false)))
        cum.withColumn("file_id",
            floor(coalesce(col("cb"), lit(0L)) / lit(target)).cast("long"))
          .groupBy(col("lang"), col("file_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("bytes"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(col("lang"), col("file_id"))
      },
      oracle = Some(
        raw"""WITH c AS (
             |  SELECT lang, doc_id, n_chars,
             |    CAST(COALESCE(SUM(n_chars) OVER (
             |      PARTITION BY lang ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS cb
             |  FROM documents
             |)
             |SELECT lang, CAST(FLOOR(cb / 8192.0) AS BIGINT) AS file_id,
             |  count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS bytes,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM c GROUP BY 1, 2 ORDER BY lang, file_id""".stripMargin),
      bench = false)
  )
}
