package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._
import Shared._

/** Per-document text kernels and vocabulary statistics: `text_`, `vocab_`,
  * `bpe_`, `sketch_`. */
object TextQueries {

  private val featHashD = 1024                    // text_feature_hashing
  // text_ndcg_eval: judgments exist only for this bounded doc-id pool —
  // qrels are per-query-bounded by construction, which is RankEval's
  // documented scale precondition (the ideal-DCG window partitions must
  // never hold a corpus)
  private val ndcgPoolMax = 100L
  private val perceptronRounds = 3                // text_langid_perceptron
  private val heapsCheckpoints = 8                // vocab_heaps
  private val boolQueryLits =                     // text_boolean_search
    Seq((0L, "spark join window"), (1L, "customer order value"),
      (2L, "vector scan"))
  private val phraseQueryLits =                   // text_phrase_search
    Seq((0L, "fast table"), (1L, "table table"), (2L, "agg row scan"))
  private val vocabCoverageKs = Seq(10, 100, 1000) // vocab_coverage
  private val bigramSuggestK = 3                  // vocab_bigram_suggest
  private val trigramTopK = 5                     // text_char_trigrams

  /** DuckDB replay of one [[graft.functions.Bpe.trainStats]] round over the
    * positions frame `p{i-1}(word, freq, pos, tok)`: adjacent-pair counts
    * `c{i}` → argmax `b{i}` (cnt DESC, l, r; minCount 2) → greedy-leftmost
    * merge application into `p{i}`. Greedy is window math, not a fold:
    * overlapping matches of pair (a,b) exist only when a = b (a match at
    * pos i and i+1 forces tok[i+1] = b = a), so within each island of
    * consecutive matching positions greedy takes the 1st, 3rd, … match —
    * the gaps-and-islands parity rule. `LEFT JOIN ON TRUE` makes an empty
    * `b{i}` a no-op round (`p{i}` = `p{i-1}`), so the oracle's fixed 4
    * rounds agree with the engine's early stop at minCount. */
  private def sqlBpeRound(i: Int): String = {
    val p = s"p${i - 1}"
    s"c$i AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM " +
      "(SELECT freq, tok AS l, lead(tok) OVER (PARTITION BY word ORDER BY pos) AS r " +
      s"FROM $p) WHERE r IS NOT NULL GROUP BY l, r), " +
      s"b$i AS (SELECT l, r, cnt FROM c$i WHERE cnt >= 2 ORDER BY cnt DESC, l, r LIMIT 1), " +
      s"m$i AS (SELECT p.word, p.freq, p.pos, p.tok, b.l AS bl, b.r AS br, " +
      "CASE WHEN p.tok = b.l AND lead(p.tok) OVER (PARTITION BY p.word ORDER BY p.pos) = b.r " +
      s"THEN 1 ELSE 0 END AS hit FROM $p p LEFT JOIN b$i b ON TRUE), " +
      s"g$i AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - " +
      s"ROW_NUMBER() OVER (PARTITION BY word, hit ORDER BY pos) AS grp FROM m$i), " +
      s"t$i AS (SELECT *, CASE WHEN hit = 1 AND " +
      "ROW_NUMBER() OVER (PARTITION BY word, grp, hit ORDER BY pos) % 2 = 1 " +
      s"THEN 1 ELSE 0 END AS tk FROM g$i), " +
      s"d$i AS (SELECT *, COALESCE(lag(tk) OVER (PARTITION BY word ORDER BY pos), 0) AS used FROM t$i), " +
      s"p$i AS (SELECT word, freq, CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos, " +
      s"CASE WHEN tk = 1 THEN bl || br ELSE tok END AS tok FROM d$i WHERE used = 0), "
  }

  /** Shared CTE prefix for the BPE oracles: vocabulary, the round-0
    * positions table, and `n` unrolled merge rounds (ends with a
    * trailing comma-space; callers append a final CTE or strip it). */
  private def sqlBpeRoundsN(n: Int): String =
    s"WITH w AS (SELECT unnest($sqlToks) AS word FROM documents), " +
      "wc AS (SELECT word, count(*) AS freq FROM w GROUP BY word), " +
      "px AS (SELECT word, freq, unnest(range(1, length(word) + 1)) AS pos FROM wc), " +
      "p0 AS (SELECT word, freq, pos, substring(word, pos, 1) AS tok FROM px), " +
      (1 to n).map(sqlBpeRound).mkString

  private val sqlBpeRounds = sqlBpeRoundsN(4)

  /** BM25 top-10 for the three keyword queries — same expression tree as
    * `Bm25.termScore` (ln = natural log in both engines; per-term scores
    * summed as DECIMAL so accumulation order cannot matter). Shared by
    * text_bm25_topk and the fusion oracle's lexical leg. */
  private def bm25TopkOracleSql: String =
    "WITH q(query_id, qtext) AS (VALUES (0, 'spark join'), " +
      "(1, 'table scan fast'), (2, 'window batch agg')), " +
      "qt AS (SELECT query_id, unnest(list_distinct(list_filter(" +
      "string_split_regex(lower(qtext), '\\s+'), x -> len(x) > 0))) AS term FROM q), " +
      s"d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
      "stats AS (SELECT count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM d), " +
      "dd AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d), " +
      "post AS (SELECT term, doc_id, dl, count(*) AS tf FROM dd " +
      "WHERE term IN (SELECT term FROM qt) GROUP BY term, doc_id, dl), " +
      "dft AS (SELECT term, count(*) AS df FROM post GROUP BY term), " +
      "sc AS (SELECT query_id, doc_id, sum(CAST(" +
      "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * " +
      "(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))) " +
      "AS DECIMAL(27,12))) AS s " +
      "FROM post JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN stats " +
      "GROUP BY query_id, doc_id) " +
      "SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS INTEGER) AS rank, " +
      "doc_id, round(CAST(s AS DOUBLE), 6) AS score " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY CAST(s AS DOUBLE) DESC, doc_id) AS rn FROM sc) WHERE rn <= 10"

  /** Mirror of `QueryLikelihood.topK` (Dirichlet µ=2000) over the same
    * three queries — the identical smoothing arithmetic with per-term
    * contributions summed as DECIMAL(27,12). Shared by text_ql_topk and
    * the RBO oracle's QL leg. */
  private def qlTopkOracleSql: String =
    "WITH q(query_id, qtext) AS (VALUES (0, 'spark join'), " +
      "(1, 'table scan fast'), (2, 'window batch agg')), " +
      "qt AS (SELECT query_id, unnest(list_distinct(list_filter(" +
      "string_split_regex(lower(qtext), '\\s+'), x -> len(x) > 0))) AS term FROM q), " +
      s"d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
      "stats AS (SELECT count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM d), " +
      "dd AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d), " +
      "post AS (SELECT term, doc_id, dl, count(*) AS tf FROM dd " +
      "WHERE term IN (SELECT term FROM qt) GROUP BY term, doc_id, dl), " +
      "cft AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM post GROUP BY term), " +
      "qn AS (SELECT query_id, count(*) AS n_qc FROM qt JOIN cft USING (term) GROUP BY query_id), " +
      "sc AS (SELECT query_id, doc_id, dl, sum(CAST(" +
      "ln(1.0 + tf * CAST(sum_dl AS DOUBLE) / (2000.0 * cf)) " +
      "AS DECIMAL(27,12))) AS s " +
      "FROM post JOIN cft USING (term) JOIN qt USING (term) CROSS JOIN stats " +
      "GROUP BY query_id, doc_id, dl), " +
      "fin AS (SELECT query_id, doc_id, CAST(s + " +
      "CAST(n_qc * ln(2000.0 / (dl + 2000.0)) AS DECIMAL(27,12)) AS DOUBLE) AS sim " +
      "FROM sc JOIN qn USING (query_id)) " +
      "SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS INTEGER) AS rank, " +
      "doc_id, round(sim, 6) AS score " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY sim DESC, doc_id) AS rn FROM fin) WHERE rn <= 10"

  /** DuckDB tokenization of an arbitrary column (same kernel as
    * [[sqlToks]], which is pinned to `text`). */
  private def sqlToksOf(c: String): String =
    s"list_filter(string_split_regex(lower($c), '\\s+'), x -> len(x) > 0)"

  private def queryValuesSql(qs: Seq[(Long, String)]): String =
    qs.map { case (id, txt) => s"($id, '$txt')" }.mkString(", ")

  /** Mirror of `Postings.booleanAnd` over [[boolQueryLits]]. */
  private def booleanSearchOracleSql: String =
    s"WITH q(query_id, qtext) AS (VALUES ${queryValuesSql(boolQueryLits)}), " +
      s"qt AS (SELECT query_id, unnest(list_distinct(${sqlToksOf("qtext")})) AS term FROM q), " +
      "qn AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY query_id), " +
      s"p AS (SELECT doc_id, unnest(list_distinct($sqlToks)) AS term FROM documents), " +
      "h AS (SELECT query_id, doc_id, count(*) AS n_hit FROM p JOIN qt USING (term) " +
      "GROUP BY query_id, doc_id) " +
      "SELECT CAST(h.query_id AS BIGINT) AS query_id, h.doc_id, qn.n_terms " +
      "FROM h JOIN qn USING (query_id) WHERE h.n_hit = qn.n_terms"

  /** Mirror of `Postings.phraseSearch` over [[phraseQueryLits]]: the same
    * anchor normalization (pos − offset) and distinct-offset count. */
  private def phraseSearchOracleSql: String =
    s"WITH q(query_id, qtext) AS (VALUES ${queryValuesSql(phraseQueryLits)}), " +
      s"qt AS (SELECT query_id, generate_subscripts(toks, 1) - 1 AS term_off, unnest(toks) AS term " +
      s"FROM (SELECT query_id, ${sqlToksOf("qtext")} AS toks FROM q)), " +
      "qn AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY query_id), " +
      s"p AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS term " +
      s"FROM (SELECT doc_id, $sqlToks AS toks FROM documents)), " +
      "j AS (SELECT query_id, doc_id, pos - term_off AS anchor, term_off " +
      "FROM p JOIN qt USING (term) WHERE pos - term_off >= 0), " +
      "m AS (SELECT query_id, doc_id, anchor, count(DISTINCT term_off) AS k " +
      "FROM j GROUP BY query_id, doc_id, anchor) " +
      "SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, " +
      "count(*) AS n_occurrences, min(anchor) AS first_pos " +
      "FROM m JOIN qn USING (query_id) WHERE k = n_terms " +
      "GROUP BY query_id, doc_id"

  /** Mirror of `Fusion.rrf` over the bm25 lexical leg and an exact-cosine
    * vector leg (queries vec_id < 3, k = 10): both legs' ranks are fused
    * as exact integers ⌊10¹²/(60+rank)⌋ — BIGINT `//` here, a proven-exact
    * double floor in Spark — so the fused order is total in both engines. */
  private def rrfFusionOracleSql: String =
    s"WITH lex AS ($bm25TopkOracleSql), " +
      "vec AS (WITH vq AS (SELECT vec_id AS qid, embedding AS qv " +
      "FROM embeddings WHERE vec_id < 3), " +
      "vsc AS (SELECT vq.qid, e.vec_id AS nid, " +
      "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * vq.qv[i]::DOUBLE)) / " +
      "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
      "sqrt(list_sum(list_transform(range(1, 65), i -> vq.qv[i]::DOUBLE * vq.qv[i]::DOUBLE)))) AS sim " +
      "FROM embeddings e, vq WHERE e.vec_id <> vq.qid) " +
      "SELECT qid AS query_id, rn AS rank, nid AS doc_id " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY qid " +
      "ORDER BY sim DESC, nid) AS rn FROM vsc) WHERE rn <= 10), " +
      "u AS (SELECT query_id, doc_id, rank FROM lex " +
      "UNION ALL SELECT query_id, doc_id, rank FROM vec), " +
      "f AS (SELECT query_id, doc_id, " +
      "CAST(sum(1000000000000 // (60 + rank)) AS BIGINT) AS rrf_e12, " +
      "count(*) AS hits FROM u GROUP BY query_id, doc_id) " +
      "SELECT query_id, CAST(rn AS INTEGER) AS rank, doc_id, rrf_e12, hits " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY rrf_e12 DESC, doc_id) AS rn FROM f) WHERE rn <= 10"

  /** Shared KMV oracle prefix at sketch size `k`: per-source bottom-k of
    * the distinct md5-60 token hashes, ending in `km(source, kv)` with
    * `kv` the ascending k-minima list — the DuckDB replay of
    * `Kmv.sketch` (deterministic hashes make the sketch itself, not just
    * its estimates, engine-exact). */
  private def sqlKmvKm(k: Int): String =
    s"WITH tk AS (SELECT source, unnest($sqlToks) AS term FROM documents), " +
      s"h AS (SELECT DISTINCT source, ${sqlMd5Long("term")} AS h FROM tk), " +
      s"r AS (SELECT source, h, row_number() OVER " +
      s"(PARTITION BY source ORDER BY h) AS rn FROM h), " +
      s"km AS MATERIALIZED (SELECT source, list(h ORDER BY h) AS kv " +
      s"FROM r WHERE rn <= $k GROUP BY source)"

  /** The (k−1)/θ estimate over a kv-list expression — floored double,
    * exact under-full (the `Kmv.estimateCol` twin; 2^60 spelled as a
    * CAST so DuckDB's DECIMAL literal rule cannot bite). */
  private def sqlKmvEst(kv: String, k: Int): String =
    s"CASE WHEN len($kv) < $k THEN len($kv) ELSE " +
      s"CAST(floor(CAST($k - 1 AS DOUBLE) * " +
      s"CAST(1152921504606846976 AS DOUBLE) / CAST($kv[-1] AS DOUBLE)) " +
      s"AS BIGINT) END"

  val all: Seq[QuerySpec] = Seq(
    // hybrid retrieval: BM25 lexical ranking ∪ exact-cosine vector ranking
    // over the same ids, fused by integer-exact Reciprocal Rank Fusion
    QuerySpec("text_rrf_fusion", (s, dir) => {
      import s.implicits._
      val qs = Seq((0L, "spark join"), (1L, "table scan fast"),
        (2L, "window batch agg")).toDF("qid", "qtext")
      val lex = Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
        qs, "qid", "qtext", k = 10)
      val emb = t(s, dir, "embeddings")
      val vec = Similarity.bruteForceTopK(
          emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
          "nid", "nv",
          emb.filter(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10)
        .withColumnRenamed("neighbor_id", "doc_id")
      Fusion.rrf(Seq(lex, vec), "query_id", "doc_id", "rank", k = 10)
    },
      rrfFusionOracleSql),

    // vocabulary health: hapax share and type-token ratio in floor-ppm —
    // a crawl whose hapax share collapses is template-flooded; one token
    // aggregate, single-row output
    QuerySpec("vocab_hapax_report", (s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      counts.agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        count(when(col("c") === 1, 1)).as("n_hapax"))
        .select(col("n_tokens"), col("vocab_size"), col("n_hapax"),
          Sampling.intDivExact(
            col("n_hapax").cast("decimal(38,0)") * lit(1000000L),
            col("vocab_size")).as("hapax_ppm"),
          Sampling.intDivExact(
            col("vocab_size").cast("decimal(38,0)") * lit(1000000L),
            col("n_tokens")).as("ttr_ppm"))
    },
      (s"WITH t AS (SELECT $sqlToks AS toks FROM documents), " +
        "u AS (SELECT unnest(toks) AS tok FROM t), " +
        "c AS (SELECT tok, count(*) AS c FROM u GROUP BY tok) " +
        "SELECT CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab_size, " +
        "count(CASE WHEN c = 1 THEN 1 END) AS n_hapax, " +
        "CAST((count(CASE WHEN c = 1 THEN 1 END) * 1000000) // count(*) AS BIGINT) AS hapax_ppm, " +
        "CAST((CAST(count(*) AS HUGEINT) * 1000000) // sum(c) AS BIGINT) AS ttr_ppm FROM c")),

    // Zipf shape test: integer-log₂ frequency buckets + exact-integer LS
    // slope — natural text sits near slope_ppm ≈ −10⁶
    QuerySpec("vocab_zipf", (s, dir) =>
      Vocab.zipfFit(t(s, dir, "documents"), "text"),
      // DuckDB `//` TRUNCATES negatives while the engine's intDiv FLOORS, so
      // the (negative) slope division mirrors the pmod floor form explicitly
      (s"WITH t AS (SELECT $sqlToks AS toks FROM documents), " +
        "u AS (SELECT unnest(toks) AS tok FROM t), " +
        "c AS (SELECT tok, count(*) AS c FROM u GROUP BY tok), " +
        "b AS (SELECT CAST(len(bin(c)) AS BIGINT) AS x, count(*) AS n_types FROM c GROUP BY 1), " +
        "p AS (SELECT x, n_types, CAST(len(bin(n_types)) AS BIGINT) AS y FROM b), " +
        // COALESCEs: a zero-token corpus must yield (0, 0, 0) like the
        // engine's coalesced sums, not NULLs
        "a AS (SELECT count(*) AS n, CAST(COALESCE(sum(n_types), 0) AS BIGINT) AS vocab, " +
        "CAST(COALESCE(sum(x), 0) AS BIGINT) AS sx, CAST(COALESCE(sum(y), 0) AS BIGINT) AS sy, " +
        "CAST(COALESCE(sum(x*y), 0) AS BIGINT) AS sxy, CAST(COALESCE(sum(x*x), 0) AS BIGINT) AS sxx FROM p), " +
        "sel AS (SELECT n, vocab, CAST(n*sxy - sx*sy AS HUGEINT) * 1000000 AS num, " +
        "CAST(n*sxx - sx*sx AS HUGEINT) AS den FROM a) " +
        "SELECT n AS n_buckets, vocab AS vocab_size, " +
        "CAST(CASE WHEN den = 0 THEN 0 " +
        "ELSE (num - (((num % den) + den) % den)) // den END AS BIGINT) AS slope_ppm " +
        "FROM sel")),

    // tokenizer-fertility report: subword pieces per whitespace word in
    // exact floor-ppm per language — the context-window budgeting metric
    QuerySpec("text_fertility", (s, dir) =>
      TextFunctions.fertilityByGroup(t(s, dir, "documents"), col("lang"),
        col("text")),
      // subword proxy = the same three-alternative regex; ppm division only
      // when words exist
      (s"WITH t AS (SELECT lang AS grp, CAST(len($sqlToks) AS BIGINT) AS w, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS b " +
        "FROM documents) " +
        "SELECT grp, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS n_words, " +
        "CAST(sum(b) AS BIGINT) AS n_subwords, " +
        "CAST(CASE WHEN sum(w) > 0 THEN (sum(CAST(b AS HUGEINT)) * 1000000) // sum(CAST(w AS HUGEINT)) " +
        "ELSE 0 END AS BIGINT) AS fertility_ppm FROM t GROUP BY grp")),

    // RAKE keyphrases: stopword-segmented phrase runs, deg/freq word
    // scores, decimal-summed phrase scores, corpus top-20
    QuerySpec("text_keyphrases", (s, dir) =>
      Rake.topPhrases(tFan(s, dir, "documents"), "doc_id", "text",
        topK = 20),
      // RAKE: same islands (pos − row_number), same DECIMAL(27,12)-summed
      // deg/freq scores; the stopword IN list interpolates from
      // Rake.DefaultStops so the two sides cannot drift
      {
      val stops = Rake.DefaultStops.map(s => s"'$s'").mkString(", ")
      s"WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "p0 AS (SELECT doc_id, unnest(toks) AS tok, " +
        "generate_subscripts(toks, 1) - 1 AS pos FROM d), " +
        s"ns AS (SELECT * FROM p0 WHERE tok NOT IN ($stops)), " +
        "isl AS (SELECT doc_id, tok, pos, pos - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS g FROM ns), " +
        "ph AS (SELECT doc_id, g, list(tok ORDER BY pos) AS words, " +
        "count(*) AS len, array_to_string(list(tok ORDER BY pos), ' ') AS phrase " +
        "FROM isl GROUP BY doc_id, g), " +
        "wo AS (SELECT unnest(words) AS tok, len FROM ph), " +
        "ws AS (SELECT tok, count(*) AS freq, CAST(sum(len) AS BIGINT) AS deg " +
        "FROM wo GROUP BY tok), " +
        "px AS (SELECT ph.doc_id, ph.g, ph.phrase, unnest(ph.words) AS tok FROM ph), " +
        "sc AS (SELECT doc_id, g, phrase, " +
        "sum(CAST(deg::DOUBLE / freq AS DECIMAL(27,12))) AS s " +
        "FROM px JOIN ws USING (tok) GROUP BY doc_id, g, phrase), " +
        "agg AS (SELECT phrase, count(*) AS n_occurrences, max(s) AS s " +
        "FROM sc GROUP BY phrase) " +
        "SELECT phrase, n_occurrences, round(CAST(s AS DOUBLE), 6) AS score " +
        "FROM agg ORDER BY s DESC, phrase LIMIT 20"
    }),

    // ---- text analysis ---------------------------------------------------
    QuerySpec("text_tokens", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.bpeishTokenCount(col("text")).as("n_bpeish"),
        TextFunctions.bagFingerprint(col("text")).as("bag_fp")),
      (s"WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents) " +
        "SELECT doc_id, len(toks) AS n_tokens, " +
        "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish, " +
        "md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS bag_fp FROM t")),

    QuerySpec("text_quality", (s, dir) => {
      val feats = TextFunctions.qualityFeatures(col("text"))
      t(s, dir, "documents").select(
        col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
    },
      (s"WITH t AS (SELECT doc_id, text, $sqlToks AS toks, " +
        "CAST(CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END AS DOUBLE) AS safe_n FROM documents) " +
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_q, " +
        "CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / safe_n AS alpha_ratio, " +
        "length(regexp_replace(text, '[^0-9]', '', 'g')) / safe_n AS digit_ratio, " +
        "length(regexp_replace(text, '[^.,;:!?''\"()-]', '', 'g')) / safe_n AS punct_ratio, " +
        "length(regexp_replace(text, '[^ ]', '', 'g')) / safe_n AS space_ratio, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END AS avg_word_len, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','that','it','for'], x))) AS DOUBLE) / len(toks) END AS stopword_ratio_en " +
        "FROM t")),

    // Gopher-style intra-doc repetition ACROSS gram sizes (Rae et al.
    // 2021 §A1.1): top n-gram share per doc for n=1..3 in one tagged
    // explode — text_repetition's bigram profile widened to the
    // unigram/trigram signals the Gopher gates actually threshold
    QuerySpec("text_repetition_ngram", (s, dir) =>
      TextFunctions.repetitionReport(tFan(s, dir, "documents"), "doc_id",
        "text"),
      // same tagged gram union, same floor-ppm top shares
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "g1 AS (SELECT doc_id, 1 AS n, unnest(toks) AS g FROM t), " +
        "g2 AS (SELECT doc_id, 2 AS n, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS g FROM t), " +
        "g3 AS (SELECT doc_id, 3 AS n, unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS g FROM t), " +
        "u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3), " +
        "c AS (SELECT doc_id, n, g, count(*) AS cnt FROM u GROUP BY 1, 2, 3) " +
        "SELECT doc_id, " +
        "CAST(COALESCE(sum(CASE WHEN n = 1 THEN cnt END), 0) AS BIGINT) AS n_unigrams, " +
        "CAST(COALESCE((max(CASE WHEN n = 1 THEN cnt END) * 1000000) // sum(CASE WHEN n = 1 THEN cnt END), 0) AS BIGINT) AS top_unigram_ppm, " +
        "CAST(COALESCE(sum(CASE WHEN n = 2 THEN cnt END), 0) AS BIGINT) AS n_bigrams, " +
        "CAST(COALESCE((max(CASE WHEN n = 2 THEN cnt END) * 1000000) // sum(CASE WHEN n = 2 THEN cnt END), 0) AS BIGINT) AS top_bigram_ppm, " +
        "CAST(COALESCE(sum(CASE WHEN n = 3 THEN cnt END), 0) AS BIGINT) AS n_trigrams, " +
        "CAST(COALESCE((max(CASE WHEN n = 3 THEN cnt END) * 1000000) // sum(CASE WHEN n = 3 THEN cnt END), 0) AS BIGINT) AS top_trigram_ppm " +
        "FROM c GROUP BY doc_id")),

    QuerySpec("text_langid", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_guess")),
      langIdOracleSql),

    // public crawl-quality rule pack (Gopher Table A1 + C4 §2.2 +
    // encoding hygiene) as ONE scan + |sources| aggregate: per-rule
    // violation counts and the Gopher-gated keep count — the standardized
    // pretraining filter recipe over this corpus
    QuerySpec("text_rule_screen", (s, dir) =>
      TextFunctions.qualityRuleScreen(t(s, dir, "documents"),
        "text", "source"),
      // rule pack: same predicates, thresholds interpolated from the
      // TextFunctions constants so the two sides cannot drift
      {
      val swList = TextFunctions.stopwords("en").map(w => s"'$w'").mkString(", ")
      import TextFunctions._
      "WITH d AS (SELECT source, text AS t, " + sqlToks + " AS toks FROM documents), " +
        "b AS (SELECT source, t, toks, CAST(len(toks) AS BIGINT) AS nw FROM d), " +
        "f AS (SELECT source, nw, " +
        "(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) * 1000000) " +
        "// greatest(nw, 1) AS mlus, " +
        s"len(list_filter(list_distinct(toks), x -> list_contains([$swList], x))) AS nstop, " +
        "(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1000000) " +
        "// greatest(nw, 1) AS appm, " +
        "len(t) - len(replace(t, '#', '')) AS nhash, " +
        "(len(t) - len(replace(t, '...', ''))) // 3 AS nell, " +
        "len(regexp_extract_all(t, '[.!?]+')) AS nsent, " +
        "(contains(t, '{') OR contains(t, '}')) AS fbrace, " +
        "contains(lower(t), 'lorem ipsum') AS florem, " +
        "(contains(t, '�') OR regexp_matches(t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) AS fenc " +
        "FROM b), " +
        s"g AS (SELECT source, (nw < $RuleWcLo OR nw > $RuleWcHi) AS fwc, " +
        s"(mlus < $RuleWlLoUs OR mlus > $RuleWlHiUs) AS fwl, " +
        s"(nstop < $RuleMinStop) AS fstop, (appm < $RuleAlphaMinPpm) AS falpha, " +
        s"(((nhash + nell) * 1000000) // greatest(nw, 1) > $RuleSymMaxPpm) AS fsym, " +
        s"(nsent < $RuleMinSent) AS fsent, fbrace, florem, fenc FROM f) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN fwc THEN 1 ELSE 0 END) AS BIGINT) AS r_word_count, " +
        "CAST(sum(CASE WHEN fwl THEN 1 ELSE 0 END) AS BIGINT) AS r_word_len, " +
        "CAST(sum(CASE WHEN fstop THEN 1 ELSE 0 END) AS BIGINT) AS r_stopwords, " +
        "CAST(sum(CASE WHEN falpha THEN 1 ELSE 0 END) AS BIGINT) AS r_alpha, " +
        "CAST(sum(CASE WHEN fsym THEN 1 ELSE 0 END) AS BIGINT) AS r_symbols, " +
        "CAST(sum(CASE WHEN fsent THEN 1 ELSE 0 END) AS BIGINT) AS r_sentences, " +
        "CAST(sum(CASE WHEN fbrace THEN 1 ELSE 0 END) AS BIGINT) AS r_brace, " +
        "CAST(sum(CASE WHEN florem THEN 1 ELSE 0 END) AS BIGINT) AS r_lorem, " +
        "CAST(sum(CASE WHEN fenc THEN 1 ELSE 0 END) AS BIGINT) AS r_encoding, " +
        "CAST(sum(CASE WHEN NOT fwc AND NOT fwl AND NOT fstop AND NOT falpha " +
        "AND NOT fsym THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        "FROM g GROUP BY source"
    }),

    // trainable linear gate: full-batch integer perceptron on ppm text
    // features (bias/stopword/word-len/alpha/digit) vs the en-label —
    // each round ONE 6-number aggregate under literal weights (mean
    // update ⌊Σ/N⌋ keeps weights corpus-size-independent); the oracle
    // unrolls the same 3 rounds as 1-row CTEs
    QuerySpec("text_langid_perceptron", (s, dir) => {
      val sw = array(TextFunctions.stopwords("en").map(lit): _*)
      def ppm(num: Column, den: Column): Column =
        Sampling.intDivExact(num.cast("long") * 1000000L,
          greatest(den.cast("long"), lit(1L)))
      val feats = t(s, dir, "documents")
        .select(col("lang"), col("text"), docTokens(col("text")).as("_toks"))
        .select(when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
          lit(1000000L).as("f_bias"),
          ppm(size(filter(col("_toks"), tk => array_contains(sw, tk))),
            size(col("_toks"))).as("f_stop"),
          ppm(aggregate(col("_toks"), lit(0L), (a, tk) => a + length(tk)),
            size(col("_toks"))).as("f_awl"),
          ppm(length(regexp_replace(col("text"), "[^A-Za-z]", "")),
            length(col("text"))).as("f_alpha"),
          ppm(length(regexp_replace(col("text"), "[^0-9]", "")),
            length(col("text"))).as("f_digit"))
      Perceptron.trainStats(feats, "y",
        Seq("f_bias", "f_stop", "f_awl", "f_alpha", "f_digit"),
        rounds = perceptronRounds)
    },
      // perceptron: the same ppm features, then each round as 1-row CTEs —
      // update sums + n_mis under w_{k-1}, mean-update weights with the
      // signed pmod floor, accuracy under w_k
      {
      val swList = TextFunctions.stopwords("en").map(w => s"'$w'").mkString(", ")
      def fdiv(a: String, b: String) =
        s"(($a - ((($a % $b) + $b) % $b)) // $b)"
      val m = "y*(w.wb*fb + w.ws*fs + w.ww*fw + w.wa*fa + w.wd*fd)"
      val base =
        s"WITH d0 AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y, " +
          s"$sqlToks AS toks, text FROM documents), " +
          "d AS (SELECT y, CAST(1000000 AS BIGINT) AS fb, " +
          s"CAST((len(list_filter(toks, t -> list_contains([$swList], t))) * 1000000) " +
          "// greatest(len(toks), 1) AS BIGINT) AS fs, " +
          "CAST((COALESCE(list_sum(list_transform(toks, t -> len(t))), 0) * 1000000) " +
          "// greatest(len(toks), 1) AS BIGINT) AS fw, " +
          "CAST((len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000000) " +
          "// greatest(len(text), 1) AS BIGINT) AS fa, " +
          "CAST((len(regexp_replace(text, '[^0-9]', '', 'g')) * 1000000) " +
          "// greatest(len(text), 1) AS BIGINT) AS fd FROM d0), " +
          "nn AS (SELECT count(*) AS n FROM d), " +
          "w0 AS (SELECT CAST(0 AS BIGINT) AS wb, CAST(0 AS BIGINT) AS ws, " +
          "CAST(0 AS BIGINT) AS ww, CAST(0 AS BIGINT) AS wa, CAST(0 AS BIGINT) AS wd), "
      val rounds = (1 to perceptronRounds).map { k =>
        val pw = s"w${k - 1}"
        s"u$k AS (SELECT " +
          Seq("fb" -> "ub", "fs" -> "us", "fw" -> "uw", "fa" -> "ua",
            "fd" -> "ud").map { case (f, u) =>
            s"CAST(sum(CASE WHEN $m <= 0 THEN y*$f ELSE 0 END) AS BIGINT) AS $u"
          }.mkString(", ") +
          s", CAST(sum(CASE WHEN $m <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nm " +
          s"FROM d CROSS JOIN $pw w), " +
          s"w$k AS (SELECT " +
          Seq(("wb", "ub"), ("ws", "us"), ("ww", "uw"), ("wa", "ua"),
            ("wd", "ud")).map { case (wc, u) =>
            s"w.$wc + ${fdiv(s"u.$u", "nn.n")} AS $wc"
          }.mkString(", ") +
          s" FROM u$k u CROSS JOIN $pw w CROSS JOIN nn), " +
          s"a$k AS (SELECT CAST(sum(CASE WHEN $m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ok " +
          s"FROM d CROSS JOIN w$k w)"
      }.mkString(", ")
      val rows = (1 to perceptronRounds).map { k =>
        s"SELECT CAST($k AS BIGINT) AS round, w.wb AS w_f_bias, " +
          "w.ws AS w_f_stop, w.ww AS w_f_awl, w.wa AS w_f_alpha, " +
          s"w.wd AS w_f_digit, u$k.nm AS n_mis, " +
          s"CAST((a$k.ok * 1000000) // nn.n AS BIGINT) AS acc_ppm " +
          s"FROM w$k w CROSS JOIN u$k CROSS JOIN a$k CROSS JOIN nn"
      }.mkString(" UNION ALL ")
      base + rounds + " " + rows
    }),

    QuerySpec("text_rolling_fp", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.rollingHash(col("text")).as("rolling_fp")),
      ("SELECT doc_id, CASE WHEN length(text) = 0 THEN 0 ELSE " +
        "list_reduce(list_transform(string_split(lower(text), ''), " +
        "c -> CAST(unicode(c) AS BIGINT)), " +
        "(a, b) -> (a * 1000003 + b) % 1000000000000) END AS rolling_fp " +
        "FROM documents")),

    // PII scrub: URL/email/IP/phone → typed placeholders, the standard
    // pre-training redaction pass (RE2-safe regexes mirrored in the oracle)
    QuerySpec("text_redact", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.redactPii(col("text")).as("redacted")),
      (s"SELECT doc_id, ${TextFunctions.redactPiiSql} AS redacted " +
        "FROM documents")),

    // Luhn mod-10 screen for card-like digit runs — validity, not just
    // length, separates real card numbers from order ids/timestamps (the
    // dominant false-positive class of length-based card redaction). The
    // candidates are PLANTED deterministically per doc: a 15-digit
    // md5-derived base gets its true Luhn check digit on even doc_ids
    // and check+1 on odd — the screen must agree with the construction
    // on every row, and the oracle replays construction AND screen
    QuerySpec("text_luhn_screen", (s, dir) => {
      val base = lpad(pmod(Dedup.Md5Hasher(col("doc_id").cast("string")),
        lit(1000000000000000L)).cast("string"), 15, "0")
      t(s, dir, "documents")
        .select(col("doc_id"), base.as("base"))
        .select(col("doc_id"), concat(col("base"),
          when(col("doc_id") % 2 === 0,
            TextFunctions.luhnCheckDigit(col("base")))
            .otherwise((TextFunctions.luhnCheckDigit(col("base")) + 1) % 10)
            .cast("string")).as("digits"))
        .select(col("digits"),
          TextFunctions.luhnValid(col("digits")).as("valid"),
          (col("doc_id") % 2 === 0).as("expected"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("valid"), 1L).otherwise(0L)).cast("long")
            .as("n_valid"),
          sum(when(col("valid") === col("expected"), 1L).otherwise(0L))
            .cast("long").as("n_agree"))
    },
      // the identical reversed-position doubling fold, DuckDB list ops
      // (the shared TextFunctions.luhnSumSql — one fold text for the
      // screen, the redaction twin and the entity inventory)
      {
      def luhnSumSql(x: String): String = TextFunctions.luhnSumSql(x)
      s"WITH b AS (SELECT doc_id, lpad((${sqlMd5Long("doc_id::VARCHAR")} % 1000000000000000)::VARCHAR, 15, '0') AS base FROM documents), " +
        s"c AS (SELECT doc_id, base, (10 - (${luhnSumSql("(base || '0')")} % 10)) % 10 AS chk FROM b), " +
        "d AS (SELECT doc_id, base || (CASE WHEN doc_id % 2 = 0 THEN chk ELSE (chk + 1) % 10 END)::VARCHAR AS digits FROM c), " +
        s"v AS (SELECT doc_id, (${luhnSumSql("digits")} % 10 = 0) AS valid FROM d) " +
        "SELECT count(*) AS n_candidates, " +
        "CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid, " +
        "CAST(sum(CASE WHEN valid = (doc_id % 2 = 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree FROM v"
    }),

    // repetition profile (Gopher/C4-style boilerplate signal)
    QuerySpec("text_repetition", (s, dir) =>
      Sampling.repetitionProfile(t(s, dir, "documents"), "doc_id", "text"),
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "g AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS gr FROM t), " +
        "c AS (SELECT doc_id, gr, count(*) AS n FROM g GROUP BY doc_id, gr), " +
        "p AS (SELECT doc_id, sum(n) AS n_grams, " +
        "CAST(max(n) AS DOUBLE) / sum(n) AS tr, " +
        "CAST(count(*) AS DOUBLE) / sum(n) AS dr FROM c GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams, " +
        "coalesce(tr, 0.0) AS top_gram_ratio, " +
        "coalesce(dr, 0.0) AS distinct_ratio " +
        "FROM t LEFT JOIN p ON t.doc_id = p.doc_id")),

    // context-window chunking: overlapping 64-token windows, stride 48
    QuerySpec("text_chunk", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("_toks"))
        .select(col("doc_id"),
          posexplode(TextFunctions.chunkTokens(col("_toks"), 64, 48))
            .as(Seq("chunk_idx", "chunk_text"))),
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "c AS (SELECT doc_id, CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(0, 1 + CAST(ceil(greatest(len(toks) - 64, 0) / 48.0) AS INTEGER)), " +
        "i -> array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ')) END AS chunks FROM t) " +
        "SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx, chunk AS chunk_text " +
        "FROM (SELECT doc_id, unnest(chunks) AS chunk, " +
        "unnest(range(0, len(chunks))) AS i FROM c)")),

    // top-100 vocabulary by frequency (ties broken by token): orderBy +
    // limit plans as TakeOrderedAndProject — per-partition partial top-K
    // merged on the driver, NO global sort — the scale-safe global top-K
    // OOV rate per source vs the corpus top-16 vocabulary (count-desc,
    // token tie-break — the vocab_topk rule): the tokenizer-coverage /
    // domain-shift triage signal. TakeOrdered vocab → broadcast join →
    // one linear aggregation
    QuerySpec("vocab_oov_by_source", (s, dir) => {
      val toks = t(s, dir, "documents").select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("_n"))
        .orderBy(col("_n").desc, col("tok")).limit(16)
        .select(col("tok"), lit(1).as("_in"))
      toks.join(broadcast(vocab), Seq("tok"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("_in").isNull, 1)).as("n_oov"))
        .withColumn("oov_ppm", expr("(n_oov * 1000000L) div n_tokens"))
    },
      (s"WITH tk AS (SELECT source, unnest($sqlToks) AS tok FROM documents), " +
        "v AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM tk GROUP BY 1 " +
        "ORDER BY n DESC, tok LIMIT 16)), " +
        "j AS (SELECT source, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov " +
        "FROM tk LEFT JOIN v ON tk.tok = v.tok) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(oov) AS BIGINT) AS n_oov, " +
        "CAST((sum(oov) * 1000000) // count(*) AS BIGINT) AS oov_ppm " +
        "FROM j GROUP BY source")),

    QuerySpec("vocab_topk", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(100),
      (s"WITH t AS (SELECT unnest($sqlToks) AS token FROM documents) " +
        "SELECT token, count(*) AS n FROM t GROUP BY token " +
        "ORDER BY n DESC, token LIMIT 100")),

    // HyperLogLog distinct-vocabulary sketch, md5-register deterministic
    // (Hll.scala): per-source sketches PLUS the '__all' row MERGED from
    // the per-source registers (register-wise max — mergeability is the
    // whole point of the sketch at 100 TB: m longs per group, partial-agg
    // friendly); each row rides with the exact distinct count so the
    // realized error is part of the verified output
    QuerySpec("vocab_hll", (s, dir) => {
      val terms = t(s, dir, "documents")
        .select(col("source"), explode(docTokens(col("text"))).as("term"))
      // ONE pass, ONE hash aggregate: the graft_hll_regs
      // TypedImperativeAggregate folds terms into m-byte register
      // buffers map-side (no distinct, no (group, reg) shuffle) and
      // rollup's grand-total group IS the '__all' merged sketch —
      // mergeability for free via the partial-agg contract
      val regs = terms
        .rollup(col("source"))
        .agg(Hll.sketchAgg("term").as("_regs"),
          grouping(col("source")).as("_gt")) // grouping() only resolves
        .select(                             // inside the Aggregate
          when(col("_gt") === 1, lit("__all"))
            .otherwise(col("source")).as("source"),
          col("_regs"))
      val est = Hll.estimateFromRegs(regs, "_regs")
      val dt = terms.distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = dt.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
        .unionByName(dt.select(col("term")).distinct()
          .agg(count(lit(1)).as("n_exact")).withColumn("source", lit("__all")))
      def exactDiv(num: Column, den: Column): Column =
        Sampling.intDivExact(num, den)
      val out = est.join(exact, "source")
        .select(col("source"), col("n_exact"), col("zero_regs"),
          col("raw_est"), col("est"),
          exactDiv(abs(col("est") - col("n_exact")) * lit(1000000L),
            col("n_exact")).as("err_ppm"))
        .transform(Frames.truncate)
      dt.unpersist(false)
      out
    },
      // HLL registers recomputed from the same md5-prefix longs: register =
      // low 6 bits, rho = 55 − len(bin(high 54 bits)) clamped at 30, the
      // '__all' row merged register-wise, the α numerator and the
      // linear-counting table as driver-computed literals
      {
      val m = 64
      val lcVals = Hll.linearCountingTable(m).zipWithIndex
        .map { case (e, i) => s"(${i + 1}, $e)" }.mkString(", ")
      val aNum = Hll.alphaNumerator(m)
      s"WITH tok AS (SELECT source, unnest($sqlToks) AS term FROM documents), " +
        "dt AS (SELECT DISTINCT source, term FROM tok), " +
        s"hh AS (SELECT source, ${sqlMd5Long("term")} AS h FROM dt), " +
        "rr AS (SELECT source, (h & 63) AS reg, " +
        "least(CASE WHEN (h >> 6) = 0 THEN 55 ELSE 55 - len(bin(h >> 6)) END, 30) AS rho FROM hh), " +
        "regs AS (SELECT source, reg, max(rho) AS mr FROM rr GROUP BY source, reg), " +
        "uregs AS (SELECT * FROM regs UNION ALL " +
        "SELECT '__all' AS source, reg, max(mr) AS mr FROM regs GROUP BY reg), " +
        "dom AS (SELECT s.source, r.range AS reg FROM " +
        s"(SELECT DISTINCT source FROM uregs) s CROSS JOIN range($m) r), " +
        "filled AS (SELECT d.source, COALESCE(u.mr, 0) AS rho FROM dom d " +
        "LEFT JOIN uregs u ON u.source = d.source AND u.reg = d.reg), " +
        "fold AS (SELECT source, sum((CAST(1 AS BIGINT) << (30 - rho))) AS sm, " +
        "sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS v FROM filled GROUP BY source), " +
        s"lc(lv, le) AS (VALUES $lcVals), " +
        s"es AS (SELECT source, v, $aNum // sm AS raw_est, " +
        s"CASE WHEN ($aNum // sm) <= ${5L * m / 2} AND v > 0 THEN lc.le " +
        s"ELSE $aNum // sm END AS est FROM fold LEFT JOIN lc ON lc.lv = fold.v), " +
        "ex AS (SELECT source, count(*) AS n_exact FROM dt GROUP BY source " +
        "UNION ALL SELECT '__all', count(DISTINCT term) FROM dt) " +
        "SELECT es.source, ex.n_exact, CAST(es.v AS BIGINT) AS zero_regs, " +
        "CAST(es.raw_est AS BIGINT) AS raw_est, CAST(es.est AS BIGINT) AS est, " +
        "CAST((abs(es.est - ex.n_exact) * 1000000) // ex.n_exact AS BIGINT) AS err_ppm " +
        "FROM es JOIN ex ON es.source = ex.source"
    }),

    // KMV bottom-k sketch: per-source distinct-token estimates off the
    // 256 smallest md5-60 hashes — deterministic (hash-replayable in any
    // engine, unlike probabilistic-by-seed sketches) and, unlike HLL,
    // a uniform SAMPLE of the hash space, which is what makes the
    // intersection query below possible at all
    QuerySpec("sketch_kmv_distinct", (s, dir) => {
      val terms = t(s, dir, "documents")
        .select(col("source"), explode(docTokens(col("text"))).as("term"))
      Kmv.sketch(terms, "term", Seq("source"), 256)
        .select(col("source"), size(col("kmv")).cast("long").as("n_kept"),
          Kmv.estimateCol(col("kmv"), col("k")).as("est_distinct"))
    },
      (sqlKmvKm(256) +
        s" SELECT source, CAST(len(kv) AS BIGINT) AS n_kept, " +
        s"${sqlKmvEst("kv", 256)} AS est_distinct FROM km")),

    // pairwise source-overlap estimates from the SAME sketches: union
    // sketch -> n_common members present in both -> |A∩B| and Jaccard
    // (Beyer et al. SIGMOD'07 §4) — the "how much does source X overlap
    // source Y" matrix HLL cannot answer (inclusion–exclusion error
    // explodes for small overlaps), at k-sized cost per source pair
    QuerySpec("sketch_kmv_intersect", (s, dir) => {
      val terms = t(s, dir, "documents")
        .select(col("source"), explode(docTokens(col("text"))).as("term"))
      Kmv.intersectEstimates(
        Kmv.sketch(terms, "term", Seq("source"), 256), "source")
    },
      (sqlKmvKm(256) +
        ", pr AS (SELECT a.source AS ga, b.source AS gb, " +
        "a.kv AS kva, b.kv AS kvb FROM km a JOIN km b ON a.source < b.source), " +
        "u AS (SELECT ga, gb, kva, kvb, " +
        "list_sort(list_distinct(kva || kvb))[1:256] AS kvu FROM pr), " +
        "est AS (SELECT ga, gb, kvu, " +
        s"${sqlKmvEst("kvu", 256)} AS est_union, " +
        "len(list_filter(kvu, x -> list_contains(kva, x) AND " +
        "list_contains(kvb, x))) AS n_common FROM u) " +
        "SELECT ga, gb, est_union, CAST(n_common AS BIGINT) AS n_common, " +
        "CAST(floor(CAST(n_common AS DOUBLE) * CAST(est_union AS DOUBLE) / " +
        "CAST(len(kvu) AS DOUBLE)) AS BIGINT) AS est_intersect, " +
        "CAST(floor(CAST(n_common AS DOUBLE) * CAST(1000000 AS DOUBLE) / " +
        "CAST(len(kvu) AS DOUBLE)) AS BIGINT) AS jaccard_ppm FROM est")),

    // the KMV merge law END TO END at the gate: sketch the two corpus
    // snapshots separately (stable md5 buckets <80 / >=80 — the
    // corpus_delta split), merge the per-snapshot sketches, estimate off
    // the MERGED sketch — while the oracle computes the whole-corpus
    // sketch directly. Hash equality across engines IS the lossless
    // roll-up law (bottom-k of union == merge of bottom-k's), the same
    // shared-oracle-text pattern as CELF ≡ exact greedy
    QuerySpec("sketch_kmv_delta", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = Sampling.stableBucket(col("doc_id"))
      def sk(d: DataFrame, out: String) = Kmv.sketch(
        d.select(col("source"), explode(docTokens(col("text"))).as("term")),
        "term", Seq("source"), 256)
        .select(col("source"), col("kmv").as(out))
      val empty = array().cast("array<bigint>")
      sk(docs.filter(bucket < 80), "kva")
        .join(sk(docs.filter(bucket >= 80), "kvb"), Seq("source"), "full")
        .select(col("source"), Kmv.mergeCol(
          coalesce(col("kva"), empty), coalesce(col("kvb"), empty),
          lit(256)).as("kmv"))
        .select(col("source"), size(col("kmv")).cast("long").as("n_kept"),
          Kmv.estimateCol(col("kmv"), lit(256)).as("est_distinct"))
    },
      // the whole-corpus sketch computed DIRECTLY — equality with the
      // engine's merged-snapshot path is the KMV lossless roll-up law
      (sqlKmvKm(256) +
        s" SELECT source, CAST(len(kv) AS BIGINT) AS n_kept, " +
        s"${sqlKmvEst("kv", 256)} AS est_distinct FROM km")),

    // incremental-sketch merge law, end to end: two corpus snapshots
    // (stable md5 buckets <80 / >=80 — the corpus_delta split), a sketch
    // per snapshot, register-wise merge (Hll.mergeRegs), and an
    // INDEPENDENTLY computed whole-corpus sketch; merge_exact pins
    // sketch(A) ⊔ sketch(B) ≡ sketch(A ∪ B) per source — the property
    // that lets a persisted sketch artifact absorb corpus growth without
    // rescanning history
    QuerySpec("vocab_hll_delta", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = Sampling.stableBucket(col("doc_id"))
      def sketch(d: DataFrame, rc: String) = d
        .select(col("source"), explode(docTokens(col("text"))).as("term"))
        .groupBy(col("source")).agg(Hll.sketchAgg("term").as(rc))
      val a = sketch(docs.filter(bucket < 80), "_ra")
      val b = sketch(docs.filter(bucket >= 80), "_rb")
      val merged = a.join(b, Seq("source"), "full_outer")
        .select(col("source"), Hll.mergeRegs(col("_ra"), col("_rb"))
          .as("_regs"))
      val full = sketch(docs, "_rf")
      val joined = merged.join(full, Seq("source"))
        .withColumn("merge_exact", col("_regs") === col("_rf"))
        .drop("_rf")
      Hll.estimateFromRegs(joined, "_regs")
        .select(col("source"), col("zero_regs"), col("raw_est"),
          col("est"), col("merge_exact"))
    },
      // delta-merge law: per-snapshot register CTEs (same md5 buckets as
      // corpus_delta's split), register-wise max merge, and an independent
      // whole-corpus register set; merge_exact = full-outer register
      // compare with implicit zeros
      {
      val m = 64
      val lcVals = Hll.linearCountingTable(m).zipWithIndex
        .map { case (e, i) => s"(${i + 1}, $e)" }.mkString(", ")
      val aNum = Hll.alphaNumerator(m)
      s"WITH tok AS (SELECT source, ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk, unnest($sqlToks) AS term FROM documents), " +
        "dts AS (SELECT DISTINCT source, term, bk < 80 AS is_old FROM tok), " +
        s"hhs AS (SELECT source, is_old, ${sqlMd5Long("term")} AS h FROM dts), " +
        "rrs AS (SELECT source, is_old, (h & 63) AS reg, " +
        "least(CASE WHEN (h >> 6) = 0 THEN 55 ELSE 55 - len(bin(h >> 6)) END, 30) AS rho FROM hhs), " +
        "snaps AS (SELECT source, is_old, reg, max(rho) AS mr FROM rrs GROUP BY 1, 2, 3), " +
        "mrg AS (SELECT source, reg, max(mr) AS mr FROM snaps GROUP BY 1, 2), " +
        // independent whole-corpus registers: from the raw rows, not the
        // per-snapshot aggregates
        "fullr AS (SELECT source, (h & 63) AS reg, max(least(CASE WHEN (h >> 6) = 0 THEN 55 ELSE 55 - len(bin(h >> 6)) END, 30)) AS mr " +
        s"FROM (SELECT source, ${sqlMd5Long("term")} AS h FROM (SELECT DISTINCT source, term FROM tok)) GROUP BY 1, 2), " +
        "cmp AS (SELECT COALESCE(a.source, f.source) AS source, COALESCE(a.mr, 0) AS ma, COALESCE(f.mr, 0) AS mf " +
        "FROM mrg a FULL OUTER JOIN fullr f ON a.source = f.source AND a.reg = f.reg), " +
        "eqq AS (SELECT source, min(CASE WHEN ma = mf THEN 1 ELSE 0 END) = 1 AS merge_exact FROM cmp GROUP BY source), " +
        "dom AS (SELECT s.source, r.range AS reg FROM " +
        s"(SELECT DISTINCT source FROM mrg) s CROSS JOIN range($m) r), " +
        "filled AS (SELECT d.source, COALESCE(u.mr, 0) AS rho FROM dom d " +
        "LEFT JOIN mrg u ON u.source = d.source AND u.reg = d.reg), " +
        "fold AS (SELECT source, sum((CAST(1 AS BIGINT) << (30 - rho))) AS sm, " +
        "sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS v FROM filled GROUP BY source), " +
        s"lc(lv, le) AS (VALUES $lcVals), " +
        s"es AS (SELECT source, v, $aNum // sm AS raw_est, " +
        s"CASE WHEN ($aNum // sm) <= ${5L * m / 2} AND v > 0 THEN lc.le " +
        s"ELSE $aNum // sm END AS est FROM fold LEFT JOIN lc ON lc.lv = fold.v) " +
        "SELECT es.source, CAST(es.v AS BIGINT) AS zero_regs, " +
        "CAST(es.raw_est AS BIGINT) AS raw_est, CAST(es.est AS BIGINT) AS est, " +
        "eqq.merge_exact FROM es JOIN eqq ON es.source = eqq.source"
    }),

    // Heaps'-law vocabulary-growth fit (Zipf's companion, same integer
    // log2-bucket least squares): 8 doc-id-prefix checkpoints, each a
    // conditional sum in ONE scan (token totals) + ONE first-occurrence
    // aggregation (vocab sizes) — no per-prefix rescans
    QuerySpec("vocab_heaps", (s, dir) =>
      Vocab.heapsFit(t(s, dir, "documents"), "doc_id", "text",
        checkpoints = heapsCheckpoints),
      // Heaps' fit: the same prefix cutoffs (⌊max·i/8⌋), first-occurrence
      // vocab counts, len(bin()) log2 buckets and pmod-floored LS slope as
      // vocab_zipf's oracle
      (s"WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "dn AS (SELECT doc_id, len(toks) AS nt FROM d), " +
        "mx AS (SELECT max(doc_id) AS m FROM dn), " +
        s"cps AS (SELECT CAST(r.range AS BIGINT) AS cp, " +
        s"(mx.m * r.range) // $heapsCheckpoints AS cutoff_id " +
        s"FROM range(1, ${heapsCheckpoints + 1}) r CROSS JOIN mx), " +
        "tkp AS (SELECT c.cp, c.cutoff_id, CAST(sum(CASE WHEN dn.doc_id <= c.cutoff_id " +
        "THEN dn.nt ELSE 0 END) AS BIGINT) AS prefix_tokens " +
        "FROM cps c CROSS JOIN dn GROUP BY 1, 2), " +
        "fo AS (SELECT term, min(doc_id) AS fd FROM " +
        "(SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY term), " +
        "vp AS (SELECT c.cp, CAST(sum(CASE WHEN fo.fd <= c.cutoff_id " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS prefix_vocab " +
        "FROM cps c CROSS JOIN fo GROUP BY 1), " +
        "pts AS (SELECT cp, cutoff_id, prefix_tokens, prefix_vocab, " +
        "CAST(len(bin(prefix_tokens)) AS BIGINT) AS x, " +
        "CAST(len(bin(prefix_vocab)) AS BIGINT) AS y " +
        "FROM tkp JOIN vp USING (cp)), " +
        "ls AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x*y) AS sxy, sum(x*x) AS sxx FROM pts), " +
        "sl AS (SELECT CAST(n*sxy - sx*sy AS HUGEINT) * 1000000 AS num, " +
        "CAST(n*sxx - sx*sx AS HUGEINT) AS den FROM ls) " +
        "SELECT cp, CAST(cutoff_id AS BIGINT) AS cutoff_id, prefix_tokens, " +
        "prefix_vocab, CAST(CASE WHEN den = 0 THEN 0 " +
        "ELSE (num - (((num % den) + den) % den)) // den END AS BIGINT) AS slope_ppm " +
        "FROM pts CROSS JOIN sl")),

    // hashing-trick audit (Weinberger et al., ICML'09): terms → md5
    // buckets mod D, top-20 most-collided buckets riding with the global
    // collision stats — the "is D big enough" check before a
    // feature-hashed model ships; one vocab-sized groupBy, output bounded
    QuerySpec("text_feature_hashing", (s, dir) => {
      val terms = t(s, dir, "documents")
        .select(explode(docTokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      val buckets = terms
        .groupBy(pmod(Dedup.Md5Hasher(col("term")), lit(featHashD.toLong))
          .as("bucket"))
        .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val summary = buckets.agg(
        sum(col("n_terms")).as("vocab_size"),
        count(lit(1)).as("buckets_used"))
        .select(col("vocab_size"), col("buckets_used"),
          Sampling.intDivExact(
            (col("vocab_size") - col("buckets_used")) * lit(1000000L),
            col("vocab_size")).as("collision_ppm"))
      val out = buckets
        .orderBy(col("n_terms").desc, col("bucket"))
        .limit(20)
        .crossJoin(broadcast(summary))
        .transform(Frames.truncate)
      buckets.unpersist(false)
      out
    },
      // hashing trick: same md5-prefix longs mod D, same top-20 order
      (s"WITH tt AS (SELECT unnest($sqlToks) AS term FROM documents), " +
        "tc AS (SELECT term, count(*) AS tf FROM tt GROUP BY term), " +
        s"bk AS (SELECT ${sqlMd5Long("term")} % $featHashD AS bucket, " +
        "count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS total_tf " +
        "FROM tc GROUP BY 1), " +
        "sm AS (SELECT CAST(sum(n_terms) AS BIGINT) AS vocab_size, " +
        "count(*) AS buckets_used FROM bk) " +
        "SELECT b.bucket, b.n_terms, b.total_tf, sm.vocab_size, " +
        "sm.buckets_used, CAST(((sm.vocab_size - sm.buckets_used) * 1000000) " +
        "// sm.vocab_size AS BIGINT) AS collision_ppm " +
        "FROM (SELECT * FROM bk ORDER BY n_terms DESC, bucket LIMIT 20) b " +
        "CROSS JOIN sm")),

    // count-min sketch heavy hitters: fixed depth×width counter frame
    // (corpus-size-independent state — the mergeable monitoring sketch),
    // estimates for the exact top-100 tokens ride next to their true
    // counts; md5-hashed cells, so the oracle recomputes each one
    QuerySpec("vocab_cms_topk", (s, dir) => {
      val toks = tFan(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      val sk = Cms.sketch(toks, "token", depth = 4, width = 1024)
      val top = toks.groupBy("token").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("token")).limit(100)
      Cms.estimate(sk, top.select("token"), "token", 4, 1024)
        .join(top, "token")
        .select(col("token"), col("n_true"), col("est").as("n_est"))
    },
      (s"WITH toks AS (SELECT unnest($sqlToks) AS token FROM documents), " +
        "cells AS (SELECT r, " +
        sqlMd5Long("r::VARCHAR || chr(1) || token") + " % 1024 AS b " +
        "FROM toks, range(0, 4) t(r)), " +
        "sk AS (SELECT r, b, count(*) AS cnt FROM cells GROUP BY 1, 2), " +
        "top AS (SELECT token, count(*) AS n_true FROM toks GROUP BY 1 " +
        "ORDER BY n_true DESC, token LIMIT 100), " +
        "q AS (SELECT token, n_true, r, " +
        sqlMd5Long("r::VARCHAR || chr(1) || token") + " % 1024 AS b " +
        "FROM top, range(0, 4) t(r)), " +
        "e AS (SELECT token, n_true, min(COALESCE(sk.cnt, 0)) AS n_est " +
        "FROM q LEFT JOIN sk USING (r, b) GROUP BY 1, 2) " +
        "SELECT token, n_true, CAST(n_est AS BIGINT) AS n_est FROM e")),

    // BPE round-0 statistics: the adjacent character-pair counts behind
    // the first merge decision, top-50 — the corpus collapses to the
    // (word, freq) vocabulary before any pair work (Bpe.train, spec'd,
    // iterates the same frame; the round-0 stats are the SQL-expressible
    // slice, the anchor-mode pattern used for IVF/PQ)
    QuerySpec("bpe_pair_stats", (s, dir) => {
      val words = Bpe.wordCounts(t(s, dir, "documents"), col("text"))
      Bpe.pairStats(words, "word", "freq")
        .orderBy(col("cnt").desc, col("pair")).limit(50)
    },
      (s"WITH w AS (SELECT unnest($sqlToks) AS word FROM documents), " +
        "wc AS (SELECT word, count(*) AS freq FROM w GROUP BY word), " +
        "p AS (SELECT freq, unnest(CASE WHEN length(word) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, length(word)), i -> substring(word, i, 2)) END) AS pair FROM wc), " +
        "s AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY pair) " +
        "SELECT pair, cnt FROM s ORDER BY cnt DESC, pair LIMIT 50")),

    // the full BPE TRAINING LOOP (Sennrich et al. 2016), oracle-gated:
    // 4 merge rounds over the (word, freq) vocabulary frame, each round =
    // one pair-count shuffle + a 1-row argmax collect + one greedy fold.
    // The oracle replays the identical trajectory in DuckDB as a
    // positions table (gaps-and-islands parity = greedy leftmost — for a
    // pair (a,b), overlapping matches exist only when a=b, where greedy
    // takes the 1st, 3rd, … match of each run); engine fold vs oracle
    // window math are independent formulations of the same semantics
    QuerySpec("bpe_train_merges", (s, dir) => {
      import s.implicits._
      val words = Bpe.wordCounts(t(s, dir, "documents"), col("text")) // fan A/B: 0.63x fanned
      Bpe.trainStats(words, "word", "freq", numMerges = 4, minCount = 2L)
        .toDF("step", "l", "r", "cnt")
        .select(col("step").cast("long").as("step"), col("l"), col("r"),
          col("cnt"))
        .orderBy("step")
    },
      (sqlBpeRounds.stripSuffix(", ") +
        " SELECT * FROM (SELECT CAST(1 AS BIGINT) AS step, l, r, cnt FROM b1" +
        " UNION ALL SELECT 2, l, r, cnt FROM b2" +
        " UNION ALL SELECT 3, l, r, cnt FROM b3" +
        " UNION ALL SELECT 4, l, r, cnt FROM b4) ORDER BY step")),

    // the SCALE mode of the same trainer: aggregate the vocabulary once,
    // run the merge loop driver-local (Bpe.trainStatsLocal — incremental
    // pair index, no per-merge Spark job); bit-identical trajectory to
    // the distributed twin by construction, proven here against the SAME
    // DuckDB replay oracle and in BpeSpec at 1000+ merges
    QuerySpec("bpe_train_local", (s, dir) => {
      import s.implicits._
      val words = Bpe.wordCounts(t(s, dir, "documents"), col("text"))
      Bpe.trainStatsLocal(words, "word", "freq", numMerges = 4,
          minCount = 2L)
        .toDF("step", "l", "r", "cnt")
        .select(col("step").cast("long").as("step"), col("l"), col("r"),
          col("cnt"))
        .orderBy("step")
    },
      // the driver-local trainer must replay the IDENTICAL trajectory —
      // same oracle text as the distributed twin above
      (sqlBpeRounds.stripSuffix(", ") +
        " SELECT * FROM (SELECT CAST(1 AS BIGINT) AS step, l, r, cnt FROM b1" +
        " UNION ALL SELECT 2, l, r, cnt FROM b2" +
        " UNION ALL SELECT 3, l, r, cnt FROM b3" +
        " UNION ALL SELECT 4, l, r, cnt FROM b4) ORDER BY step")),

    // apply the trained merge table: the tokenizer the loop produced,
    // run over the 100 highest-frequency words — per word the encoded
    // symbol string and symbol count (fertility of the 4-merge vocab)
    QuerySpec("bpe_encode_sample", (s, dir) => {
      val words = Bpe.wordCounts(t(s, dir, "documents"), col("text")) // fan A/B: 0.53x fanned
      val merges = Bpe.train(words, "word", "freq", numMerges = 4)
      words
        .withColumn("sym", Bpe.encode(col("word"), merges))
        .select(col("word"), col("freq"),
          concat_ws(" ", col("sym")).as("encoded"),
          size(col("sym")).cast("long").as("n_sym"))
        .orderBy(col("freq").desc, col("word")).limit(100)
    },
      (sqlBpeRounds.stripSuffix(", ") +
        " SELECT word, CAST(freq AS BIGINT) AS freq," +
        " string_agg(tok, ' ' ORDER BY pos) AS encoded," +
        " CAST(count(*) AS BIGINT) AS n_sym" +
        " FROM p4 GROUP BY word, freq ORDER BY freq DESC, word LIMIT 100")),

    // the SERVING path of the same tokenizer: train driver-local (6
    // merges here; bit-identical to the distributed loop), then encode
    // through the broadcast rank-table mapPartitions kernel
    // (Bpe.encodeWords) instead of 6 chained expression folds — the mode
    // that survives a 32k-merge vocabulary. The oracle replays SIX
    // training rounds in DuckDB and reads the final positions table:
    // hash-equality proves the serving kernel IS the fold
    QuerySpec("bpe_encode_trie", (s, dir) => {
      val words = Bpe.wordCounts(t(s, dir, "documents"), col("text"))
      val merges = Bpe.trainLocal(words, "word", "freq", numMerges = 6)
      Bpe.encodeWords(words, "word", merges)
        .select(col("word"), col("freq"),
          concat_ws(" ", col("sym")).as("encoded"),
          size(col("sym")).cast("long").as("n_sym"))
        .orderBy(col("freq").desc, col("word")).limit(100)
    },
      // six independently-replayed training rounds; the engine side runs
      // the broadcast-table serving kernel, so hash-equality pins the
      // serving encoder to the fold semantics cross-engine
      (sqlBpeRoundsN(6).stripSuffix(", ") +
        " SELECT word, CAST(freq AS BIGINT) AS freq," +
        " string_agg(tok, ' ' ORDER BY pos) AS encoded," +
        " CAST(count(*) AS BIGINT) AS n_sym" +
        " FROM p6 GROUP BY word, freq ORDER BY freq DESC, word LIMIT 100")),

    // CORPUS-grain tokenization (the serving pipeline's real shape):
    // train 6 merges, encode each DISTINCT word once, join the encoding
    // back onto the positional token stream, reassemble per-doc token
    // arrays — encode work is vocabulary-sized however large the corpus.
    // The oracle replays the same 6 merges (shared sqlBpeRoundsN CTE with
    // bpe_encode_trie) and rebuilds per-doc streams by ordered string_agg
    QuerySpec("bpe_corpus_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val words = Bpe.wordCounts(docs, col("text"))
      val merges = Bpe.trainLocal(words, "word", "freq", numMerges = 6)
      Bpe.encodeCorpus(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          concat_ws(" ", col("tokens")).as("encoded"),
          size(col("tokens")).cast("long").as("n_tokens"))
        .orderBy("doc_id").limit(100)
    },
      // corpus-grain encode: same 6-merge replay; per-word encodings
      // (ordered string_agg within word) join back onto the positional
      // token stream and re-agg in word order per doc. Parallel unnests
      // zip (corpus_unk_rare precedent); token-less docs keep a row with
      // '' / 0 via the LEFT JOIN + COALESCE
      (sqlBpeRoundsN(6) +
        "enc AS (SELECT word, string_agg(tok, ' ' ORDER BY pos) AS esym," +
        " CAST(count(*) AS BIGINT) AS n FROM p6 GROUP BY word), " +
        s"dt AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "st AS (SELECT doc_id, unnest(toks) AS word," +
        " unnest(range(1, len(toks) + 1)) AS wp FROM dt), " +
        "per AS (SELECT doc_id, string_agg(esym, ' ' ORDER BY wp) AS encoded," +
        " CAST(sum(n) AS BIGINT) AS n_tokens FROM st JOIN enc USING (word)" +
        " GROUP BY doc_id) " +
        "SELECT doc_id, COALESCE(encoded, '') AS encoded," +
        " CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens" +
        " FROM documents LEFT JOIN per USING (doc_id)" +
        " ORDER BY doc_id LIMIT 100")),

    // grouped bisection: per-language exact length cuts, one scan per
    // round carrying a counter per open (group, quantile) pair
    QuerySpec("text_length_quantiles_bisect", (s, dir) =>
      Profile.exactQuantilesBisectByGroup(
        t(s, dir, "documents").select(col("lang"), col("n_chars")),
        "lang", "n_chars", Seq(500000L, 900000L)),
      ("WITH t AS (SELECT lang, n_chars AS v FROM documents), " +
        "nn AS (SELECT lang, count(*) AS n FROM t GROUP BY 1), " +
        "q(q_ppm) AS (VALUES (500000), (900000)), " +
        "kk AS (SELECT lang, CAST(q_ppm AS BIGINT) AS q_ppm, " +
        "greatest(1, (q_ppm * n + 999999) // 1000000) AS k FROM nn, q), " +
        "r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn FROM t) " +
        "SELECT kk.lang AS lang, kk.q_ppm, CAST(kk.k AS BIGINT) AS k, r.v AS value " +
        "FROM kk JOIN r ON r.lang = kk.lang AND r.rn = kk.k " +
        "ORDER BY kk.lang, q_ppm")),

    // per-source readability rollup: integer-µ Flesch-Kincaid grade
    // (vowel-run syllables, punctuation-run sentences floored at 1),
    // exact floor-mean — the "word salad" quality gate input
    QuerySpec("text_readability", (s, dir) =>
      TextFunctions.readabilityByGroup(t(s, dir, "documents"),
        col("source"), col("text")),
      // each FK term is its own integer floor division; the mean of the
      // (possibly negative) grade sum uses the shared pmod-floor form
      (s"WITH t AS (SELECT source, CAST(len($sqlToks) AS BIGINT) AS w, " +
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl, " +
        "greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS s " +
        "FROM documents), " +
        "g AS (SELECT source AS grp, (390000 * w) // s + (11800000 * syl) // w " +
        "- 15590000 AS gus FROM t WHERE w > 0) " +
        "SELECT grp, count(*) AS n_docs, " +
        "CAST((sum(CAST(gus AS HUGEINT)) - ((sum(CAST(gus AS HUGEINT)) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS mean_fk_us, " +
        "min(gus) AS min_fk_us, max(gus) AS max_fk_us " +
        "FROM g GROUP BY grp")),

    // HTML boilerplate extraction: synthesized crawl pages (nav + link
    // farm + footer around the real text), main content kept by the
    // integer-ppm link-density × min-length block rule — all native
    // regexp/HOF expressions, no UDF; the oracle reruns the same
    // patterns under RE2
    QuerySpec("text_html_extract", (s, dir) => {
      val html = concat(lit(htmlPre), col("doc_id").cast("string"),
        lit(htmlMid), col("text"), lit(htmlPost))
      t(s, dir, "documents")
        .select(col("doc_id"), html.as("_h"))
        .select(col("doc_id"),
          Html.title(col("_h")).as("title"),
          Html.mainContent(col("_h"), htmlMaxLinkPpm, htmlMinChars)
            .as("main_text"))
        .withColumn("main_chars", length(col("main_text")).cast("long"))
    },
      // same template, same RE2-safe patterns (shared constants), same
      // integer-ppm link-density block rule; array_to_string of an empty
      // kept list COALESCEs to '' to match Spark's array_join
      {
      val vx = sqlVisible("x")
      val anchors = "COALESCE(array_to_string(regexp_extract_all(x, '" +
        Html.AnchorRe + "', 1), ' '), '')"
      val vAnchor = sqlVisible(anchors)
      s"WITH h AS (SELECT doc_id, '$htmlPre' || doc_id || '$htmlMid' || text || '$htmlPost' AS html FROM documents), " +
        s"c AS (SELECT doc_id, html, regexp_replace(regexp_replace(html, '${Html.DropContentRe}', ' ', 'g'), '${Html.CommentRe}', ' ', 'g') AS clean FROM h), " +
        s"k AS (SELECT doc_id, html, list_filter(string_split_regex(clean, '${Html.BlockCloseRe}'), x -> " +
        s"len($vx) >= $htmlMinChars AND len($vAnchor) * 1000000 <= len($vx) * $htmlMaxLinkPpm) AS kept FROM c), " +
        s"m AS (SELECT doc_id, ${sqlVisible(s"regexp_extract(html, '${Html.TitleRe}', 1)")} AS title, " +
        "COALESCE(array_to_string(list_transform(kept, x -> " + vx +
        "), chr(10)), '') AS main_text FROM k) " +
        "SELECT doc_id, title, main_text, CAST(len(main_text) AS BIGINT) AS main_chars FROM m"
    }),

    // ---- retrieval & LM scoring -----------------------------------------
    // BM25 keyword search: broadcast query set gates the token stream, df
    // re-aggregates the posting frame's own shuffle (ReusedExchange), the
    // per-(query, doc) sum is exact DECIMAL — ranking is total and
    // engine-independent
    QuerySpec("text_bm25_topk", (s, dir) => {
      import s.implicits._
      val qs = Seq((0L, "spark join"), (1L, "table scan fast"),
        (2L, "window batch agg")).toDF("qid", "qtext")
      Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
        qs, "qid", "qtext", k = 10)
    },
      // BM25: same expression tree as Bm25.termScore (ln = natural log in
      // both engines; per-term scores summed as DECIMAL so accumulation
      // order cannot matter)
      bm25TopkOracleSql),

    // the language-modeling scorer beside BM25 (Zhai–Lafferty Dirichlet
    // smoothing, µ=2000) over the SAME query set — the second standard
    // lexical ranking model a serving stack A/Bs; same broadcast-query /
    // vocabulary-gated-postings plan shape
    QuerySpec("text_ql_topk", (s, dir) => {
      import s.implicits._
      val qs = Seq((0L, "spark join"), (1L, "table scan fast"),
        (2L, "window batch agg")).toDF("qid", "qtext")
      QueryLikelihood.topK(t(s, dir, "documents"), "doc_id", "text",
        qs, "qid", "qtext", k = 10)
    },
      qlTopkOracleSql),

    // rank-biased overlap between the BM25 and query-likelihood runs
    // (p=0.9, truncated at k=10) — the top-weighted ranker-agreement
    // measure that tells an index migration how much the two scorers
    // actually disagree where it matters (the head), in exact integers
    QuerySpec("text_rank_rbo", (s, dir) => {
      import s.implicits._
      val qs = Seq((0L, "spark join"), (1L, "table scan fast"),
        (2L, "window batch agg")).toDF("qid", "qtext")
      val docs = tFan(s, dir, "documents")
      Fusion.rbo(
        Bm25.topK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10),
        QueryLikelihood.topK(docs, "doc_id", "text", qs, "qid", "qtext",
          k = 10),
        "query_id", "doc_id", "rank", k = 10)
    },
      // RBO weights ×10^12 are 9^(d-1)·10^(12-d) — integral for d ≤ 12,
      // the same exact-integer ladder convention as RRF/discountsMu
      {
      val ws = (1 to 10).map(d =>
        s"($d, ${(BigInt(9).pow(d - 1) * BigInt(10).pow(12 - d)).toLong})")
        .mkString(", ")
      s"WITH a AS ($bm25TopkOracleSql), b AS ($qlTopkOracleSql), " +
        "c AS (SELECT a.query_id, a.doc_id, greatest(a.rank, b.rank) AS dmin " +
        "FROM a JOIN b USING (query_id, doc_id)), " +
        "t AS (SELECT query_id, unnest(range(dmin, 11)) AS d FROM c), " +
        "o AS (SELECT query_id, d, count(*) AS od FROM t GROUP BY query_id, d), " +
        s"w(d, wn) AS (VALUES $ws), " +
        "tm AS (SELECT query_id, CAST(sum((wn * od) // d) AS BIGINT) AS rbo_e12 " +
        "FROM o JOIN w USING (d) GROUP BY query_id), " +
        "n AS (SELECT query_id, count(*) AS n_common FROM c GROUP BY query_id), " +
        "qa AS (SELECT DISTINCT query_id FROM a) " +
        "SELECT qa.query_id, COALESCE(rbo_e12, 0) AS rbo_e12, " +
        "CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common " +
        "FROM qa LEFT JOIN tm USING (query_id) LEFT JOIN n USING (query_id)"
    }),

    // NDCG@10 / MRR / P@10 evaluation of the BM25 run against synthetic
    // graded judgments rel = (doc_id·7 + qid) mod 4 — the offline
    // ranking-eval harness (RankEval): discount ladder as µ literals,
    // gains as shifts, NDCG/MRR as exact floor-division ppm
    QuerySpec("text_ndcg_eval", (s, dir) => {
      import s.implicits._
      val qs = Seq((0L, "spark join"), (1L, "table scan fast"),
        (2L, "window batch agg")).toDF("qid", "qtext")
      val ranked = Bm25.topK(t(s, dir, "documents"), "doc_id", "text", // fan A/B: 0.61x fanned
        qs, "qid", "qtext", k = 10)
      val rels = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < ndcgPoolMax)
        .crossJoin(broadcast(qs.select(col("qid").as("query_id"))))
        .select(col("query_id"), col("doc_id"),
          pmod(col("doc_id") * 7 + col("query_id"), lit(4L)).as("rel"))
      RankEval.metrics(ranked, "query_id", "rank", "doc_id",
        rels, "rel", k = 10)
    },
      // ranking eval over the SAME bm25 run CTE: graded rel =
      // (doc_id·7 + qid) mod 4, the ⌊10⁶/log₂(i+1)⌋ discount ladder as a
      // VALUES table (RankEval.discountsMu literals), gains as shifts,
      // NDCG/MRR as BIGINT floor division
      {
      val discVals = RankEval.discountsMu(10).zipWithIndex
        .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
      s"WITH ranked AS ($bm25TopkOracleSql), " +
        "rels AS (SELECT CAST(q.query_id AS BIGINT) AS query_id, d.doc_id, " +
        "(d.doc_id * 7 + q.query_id) % 4 AS rel FROM documents d " +
        s"CROSS JOIN (VALUES (0), (1), (2)) q(query_id) WHERE d.doc_id < $ndcgPoolMax), " +
        s"disc(dr, dmu) AS (VALUES $discVals), " +
        "tk AS (SELECT r.query_id, r.rank, COALESCE(rl.rel, 0) AS rel " +
        "FROM ranked r LEFT JOIN rels rl ON rl.query_id = r.query_id " +
        "AND rl.doc_id = r.doc_id WHERE r.rank <= 10), " +
        "run AS (SELECT query_id, sum(((1 << rel) - 1) * dmu) AS dcg_mu, " +
        "min(CASE WHEN rel >= 2 THEN rank END) AS fr, " +
        "sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS nrt " +
        "FROM tk JOIN disc ON disc.dr = tk.rank GROUP BY query_id), " +
        "ideal AS (SELECT query_id, sum(((1 << rel) - 1) * dmu) AS idcg_mu " +
        "FROM (SELECT query_id, rel, doc_id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY rel DESC, doc_id) AS ir FROM rels) i " +
        "JOIN disc ON disc.dr = i.ir WHERE i.ir <= 10 GROUP BY query_id), " +
        "pool AS (SELECT query_id, sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) " +
        "AS n_rel_pool FROM rels GROUP BY query_id) " +
        "SELECT query_id, CAST(COALESCE(run.dcg_mu, 0) AS BIGINT) AS dcg_mu, " +
        "CAST(ideal.idcg_mu AS BIGINT) AS idcg_mu, " +
        "CAST(CASE WHEN ideal.idcg_mu > 0 THEN " +
        "(COALESCE(run.dcg_mu, 0) * 1000000) // ideal.idcg_mu ELSE 0 END " +
        "AS BIGINT) AS ndcg_ppm, " +
        "CAST(CASE WHEN run.fr IS NOT NULL THEN 1000000 // run.fr ELSE 0 END " +
        "AS BIGINT) AS mrr_ppm, " +
        "CAST(COALESCE(run.nrt, 0) * 100000 AS BIGINT) AS prec_ppm, " +
        "CAST(pool.n_rel_pool AS BIGINT) AS n_rel_pool " +
        "FROM ideal JOIN pool USING (query_id) LEFT JOIN run USING (query_id)"
    }),

    // conjunctive boolean retrieval: intersect-via-count — one posting
    // join against the broadcast term list, hit count == term count
    QuerySpec("text_boolean_search", (s, dir) => {
      import s.implicits._
      Postings.booleanAnd(t(s, dir, "documents"), "doc_id", "text",
        boolQueryLits.toDF("qid", "qtext"), "qid", "qtext")
    },
      // positional postings: unnest aligns with generate_subscripts in
      // DuckDB; the gap encode is list_transform with an index — the same
      // element-wise shift as Spark's zip_with
      booleanSearchOracleSql),

    // exact phrase search over positional postings: anchor = pos − offset,
    // a phrase occurrence is an anchor holding all k distinct offsets
    // (repeated phrase terms included) — no per-term self-join chain
    QuerySpec("text_phrase_search", (s, dir) => {
      import s.implicits._
      Postings.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
        phraseQueryLits.toDF("qid", "qtext"), "qid", "qtext")
    },
      phraseSearchOracleSql),

    // positional index build: gap-encoded postings for the serving-worthy
    // df band — one (term, doc) shuffle, df re-aggregates the postings
    // frame (ReusedExchange), deltas via zip_with against the 1-shifted
    // self (HOF-argument rule)
    QuerySpec("text_postings", (s, dir) =>
      Postings.positional(t(s, dir, "documents"), "doc_id", "text",
        minDf = 10, maxDf = 50),
      (s"WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "p AS (SELECT doc_id, unnest(toks) AS term, " +
        "generate_subscripts(toks, 1) - 1 AS pos FROM d), " +
        "g AS (SELECT term, doc_id, count(*) AS tf, " +
        "list_sort(list(pos)) AS ps FROM p GROUP BY term, doc_id), " +
        "dfs AS (SELECT term, count(*) AS df FROM g GROUP BY term), " +
        "sel AS (SELECT g.term, g.doc_id, g.tf, dfs.df, g.ps FROM g " +
        "JOIN dfs ON g.term = dfs.term WHERE df BETWEEN 10 AND 50) " +
        "SELECT term, doc_id, tf, df, " +
        "array_to_string(list_transform(range(1, len(ps) + 1), " +
        "i -> CAST(ps[i] - CASE WHEN i = 1 THEN 0 ELSE ps[i-1] END AS VARCHAR)), '|') AS deltas " +
        "FROM sel")),

    // index-build cost model: per-term doc-gap Elias-γ bit cost
    // (2·⌊log₂ gap⌋ + 1 via the integer len(bin()) ladder — no float log)
    // for the 50 highest-df terms; the size budget a 100 TB posting build
    // reads before choosing compression. First gap is doc_id + 1 (distance
    // from the -1 sentinel), so a term's cost is defined from one posting
    QuerySpec("text_posting_costs", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("term").orderBy("doc_id")
      tFan(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("term"),
          col("doc_id"))
        .distinct()
        .withColumn("gap", col("doc_id") - lag(col("doc_id"), 1, -1).over(w))
        .withColumn("bits", lit(2) * length(bin(col("gap"))) - lit(1))
        .groupBy("term")
        .agg(count(lit(1)).cast("long").as("df"),
          sum("bits").cast("long").as("gamma_bits"))
        .withColumn("bytes_est", expr("(gamma_bits + 7) div 8"))
        .orderBy(col("df").desc, col("term")).limit(50)
    },
      (s"WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "p1 AS (SELECT doc_id, unnest(toks) AS term FROM d), " +
        "p AS (SELECT DISTINCT doc_id, term FROM p1), " +
        "g AS (SELECT term, doc_id - COALESCE(lag(doc_id) OVER " +
        "(PARTITION BY term ORDER BY doc_id), -1) AS gap FROM p), " +
        "b AS (SELECT term, count(*) AS df, " +
        "CAST(sum(2 * length(bin(gap)) - 1) AS BIGINT) AS gamma_bits FROM g GROUP BY term) " +
        "SELECT term, df, gamma_bits, (gamma_bits + 7) // 8 AS bytes_est " +
        "FROM b ORDER BY df DESC, term LIMIT 50")),

    // CCNet-style LM quality signal: add-one bigram cross-entropy of each
    // doc under the corpus-trained model (the model is two count
    // DataFrames — never collected)
    QuerySpec("text_perplexity", (s, dir) =>
      LangModel.selfCrossEntropy(t(s, dir, "documents"), "doc_id", "text"),
      // add-one bigram LM cross-entropy; -ln terms summed as DECIMAL
      (s"WITH $pplBodySql " +
        "SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, " +
        "coalesce(round(CAST(s.s AS DOUBLE) / s.n_bigrams, 6), 0.0) AS cross_entropy " +
        "FROM d LEFT JOIN s USING (doc_id)")),

    // vocabulary-coverage curve at fixed candidate sizes: each k is one
    // TakeOrdered top-k over the count frame (never a global rank window
    // over the vocabulary), mass ratios in exact floor-ppm
    QuerySpec("vocab_coverage", (s, dir) =>
      Vocab.coverage(t(s, dir, "documents"), "text", vocabCoverageKs),
      // the count frame's top-k arms share the (count desc, token) total
      // order with the engine's TakeOrdered
      {
      val arms = vocabCoverageKs.map { k =>
        s"k$k AS (SELECT CAST(sum(c) AS HUGEINT) AS s FROM " +
          s"(SELECT c FROM c ORDER BY c DESC, tok LIMIT $k))"
      }.mkString(", ")
      val sel = vocabCoverageKs.map { k =>
        s"SELECT CAST($k AS BIGINT) AS k, CAST(k$k.s AS BIGINT) AS covered_tokens, " +
          s"CAST(tot.n AS BIGINT) AS total_tokens, " +
          s"CAST((k$k.s * 1000000) // tot.n AS BIGINT) AS coverage_ppm " +
          s"FROM k$k, tot"
      }.mkString(" UNION ALL ")
      s"WITH t AS (SELECT $sqlToks AS toks FROM documents), " +
        "u AS (SELECT unnest(toks) AS tok FROM t), " +
        "c AS (SELECT tok, count(*) AS c FROM u GROUP BY tok), " +
        "tot AS (SELECT CAST(sum(c) AS HUGEINT) AS n FROM c), " +
        s"$arms $sel"
    }),

    // Flesch READING-EASE profile per source (206.835 −
    // 1.015·words/sentence − 84.6·syllables/word — the ease companion
    // of text_readability's Flesch-Kincaid GRADE; same vowel-run
    // syllable proxy, opposite direction: higher = easier). Everything
    // in exact integer µ units (per-doc floor ratios, then
    // floor-averaged per source — order-free), one scan + one aggregate
    QuerySpec("text_reading_ease", (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = TextFunctions.tokenCount(col("text")).cast("long")
      val sents = greatest(regexp_count(col("text"), lit("[.!?]+")),
        lit(1)).cast("long")
      val syl = greatest(regexp_count(lower(col("text")), lit("[aeiou]+")),
        lit(1)).cast("long")
      val perDoc = docs
        .select(col("source"), w.as("_w"), sents.as("_s"), syl.as("_y"))
        .filter(col("_w") > 0)
        .select(col("source"),
          Sampling.intDivExact(col("_w") * lit(1000000L), col("_s"))
            .as("_a"),
          Sampling.intDivExact(col("_y") * lit(1000000L), col("_w"))
            .as("_b"))
        .withColumn("_f", lit(206835000L) -
          Sampling.intDivExact(lit(1015L) * col("_a"), lit(1000L)) -
          Sampling.intDivExact(lit(846L) * col("_b"), lit(10L)))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          Sampling.intDivExact(sum(col("_a")), count(lit(1)))
            .as("avg_wps_us"),
          Sampling.intDivExact(sum(col("_b")), count(lit(1)))
            .as("avg_spw_us"),
          Sampling.intDivExact(sum(col("_f")), count(lit(1)))
            .as("avg_flesch_u"))
    },
      // reading ease: vowel-run syllable proxy, [.!?]+ sentence runs, all
      // floor divisions on non-negative operands except the final
      // per-source average (pmod form — scores can be negative)
      (s"WITH d AS (SELECT source, CAST(len($sqlToks) AS BIGINT) AS w, " +
        "CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS s, " +
        "CAST(greatest(len(regexp_extract_all(lower(text), '[aeiou]+')), 1) AS BIGINT) AS y " +
        "FROM documents), " +
        "p AS (SELECT source, (w * 1000000) // s AS a, (y * 1000000) // w AS b FROM d WHERE w > 0), " +
        "f AS (SELECT source, a, b, 206835000 - (1015 * a) // 1000 - (846 * b) // 10 AS fu FROM p), " +
        "g AS (SELECT source, count(*) AS n_docs, sum(a) AS sa, sum(b) AS sb, sum(fu) AS sf FROM f GROUP BY 1) " +
        "SELECT source, n_docs, CAST(sa // n_docs AS BIGINT) AS avg_wps_us, " +
        "CAST(sb // n_docs AS BIGINT) AS avg_spw_us, " +
        "CAST((sf - (((sf % n_docs) + n_docs) % n_docs)) // n_docs AS BIGINT) AS avg_flesch_u " +
        "FROM g")),

    // PII/entity inventory: independent per-pattern totals (the audit
    // before scheduling redaction; patterns are the shared RE2 constants)
    QuerySpec("text_entity_counts", (s, dir) =>
      TextFunctions.entityCounts(t(s, dir, "documents"), "text"),
      // the four shared RE2 pattern constants, counted independently
      // the card count is the Luhn-gated one — same candidate regex, same
      // shared mod-10 fold SQL as the redaction twin
      (s"WITH p AS (SELECT " +
        s"len(regexp_extract_all(text, '${TextFunctions.UrlRe}')) AS u, " +
        s"len(regexp_extract_all(text, '${TextFunctions.EmailRe}')) AS e, " +
        s"len(regexp_extract_all(text, '${TextFunctions.IpRe}')) AS i, " +
        s"len(list_filter(regexp_extract_all(text, '${TextFunctions.CardRe}'), " +
        s"c -> ${TextFunctions.luhnSumSql("c")} % 10 = 0)) AS cd, " +
        s"len(list_filter(regexp_extract_all(text, '${TextFunctions.IbanRe}'), " +
        s"c -> ${TextFunctions.ibanMod97Sql("c")} = 1)) AS ib, " +
        s"len(regexp_extract_all(text, '${TextFunctions.PhoneRe}')) AS ph " +
        "FROM documents) " +
        "SELECT count(*) AS n_docs, CAST(sum(u) AS BIGINT) AS n_urls, " +
        "CAST(sum(e) AS BIGINT) AS n_emails, CAST(sum(i) AS BIGINT) AS n_ips, " +
        "CAST(sum(cd) AS BIGINT) AS n_cards, " +
        "CAST(sum(ib) AS BIGINT) AS n_ibans, " +
        "CAST(sum(ph) AS BIGINT) AS n_phones, " +
        "count(CASE WHEN u + e + i + cd + ib + ph > 0 THEN 1 END) AS n_docs_with_any " +
        "FROM p")),

    // per-language top character trigrams (the classic langid feature):
    // overlapping trigrams via zip_with over shifted char arrays (HOF
    // ARGUMENTS — evaluated once per row, the repo's anti-reevaluation
    // rule), then partial top-k per language
    QuerySpec("text_char_trigrams", (s, dir) => {
      val chars = split(col("_t"), "")
      val t2 = zip_with(chars,
        slice(chars, lit(2), greatest(size(chars) - 1, lit(0))),
        (a, b) => concat(a, b))
      val t3 = zip_with(t2,
        slice(chars, lit(3), greatest(size(chars) - 2, lit(0))),
        (a, b) => concat(a, b))
      val tri = tFan(s, dir, "documents")
        .select(col("lang"), lower(col("text")).as("_t"))
        .select(col("lang"),
          explode(filter(t3, x => x.isNotNull && length(x) === 3))
            .as("tri"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n").desc, col("tri"))
      tri.groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= trigramTopK)
    },
      // overlapping char trigrams: starts 1..len-2 via range + substring
      ("WITH d AS (SELECT lang, lower(text) AS t FROM documents), " +
        "tri AS (SELECT lang, unnest(list_transform(range(1, greatest(len(t) - 1, 1)), " +
        "i -> substring(t, CAST(i AS INT), 3))) AS tri FROM d), " +
        "c AS (SELECT lang, tri, count(*) AS n FROM tri GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY lang " +
        "ORDER BY n DESC, tri) AS rank FROM c) " +
        s"SELECT lang, tri, n, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= $trigramTopK")),

    // top-3 next-token suggestions per context from the bigram table —
    // WindowGroupLimit partial top-k, (count desc, token) total order
    QuerySpec("vocab_bigram_suggest", (s, dir) =>
      Vocab.bigramSuggest(t(s, dir, "documents"), "text",
        topK = bigramSuggestK),
      (s"WITH t AS (SELECT $sqlToks AS toks FROM documents), " +
        "g AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS gram FROM t), " +
        "c AS (SELECT string_split(gram, ' ')[1] AS w1, " +
        "string_split(gram, ' ')[2] AS w2, count(*) AS n FROM g GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2) AS rank FROM c) " +
        s"SELECT w1, w2, n, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= $bigramSuggestK")),

    // Stupid Backoff held-out scoring (Brants et al. EMNLP'07): model from
    // the 80% train split, scores for the rest — the backoff leg really
    // fires on unseen bigrams
    QuerySpec("text_backoff_heldout", (s, dir) => {
      val docs = t(s, dir, "documents") // fan A/B: 0.63x fanned
      val train = docs
        .filter(Sampling.stableBucket(col("doc_id")) < 80)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      LangModel.backoffCrossEntropy(
        docs.filter(Sampling.stableBucket(col("doc_id")) >= 80),
        "doc_id", "text", LangModel.trainBigram(train, "toks"))
    },
      // stupid backoff: seen bigram → c2/c1; else α·(c(w2)+1)/(N+V)
      (s"WITH d AS (SELECT doc_id, $sqlToks AS toks, " +
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b FROM documents), " +
        "tr AS (SELECT * FROM d WHERE b < 80), " +
        "ho AS (SELECT * FROM d WHERE b >= 80), " +
        "g2 AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS gram FROM tr), " +
        "c2 AS (SELECT gram, count(*) AS c2 FROM g2 GROUP BY gram), " +
        "u AS (SELECT unnest(toks) AS w1 FROM tr), " +
        "c1 AS (SELECT w1, count(*) AS c1 FROM u GROUP BY w1), " +
        "v AS (SELECT count(*) AS n_vocab, CAST(sum(c1) AS BIGINT) AS n_tokens FROM c1), " +
        "hg AS (SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1, " +
        "string_split(gram, ' ')[2] AS w2 FROM " +
        "(SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS gram FROM ho)), " +
        "s AS (SELECT doc_id, count(*) AS n_bigrams, " +
        "sum(CAST(-ln(CASE WHEN coalesce(c2.c2, 0) > 0 THEN c2.c2 / CAST(c1.c1 AS DOUBLE) " +
        "ELSE 0.4 * (coalesce(cw2.c1, 0) + 1.0) / (v.n_tokens + v.n_vocab) END) AS DECIMAL(27,12))) AS s " +
        "FROM hg LEFT JOIN c2 USING (gram) LEFT JOIN c1 USING (w1) " +
        "LEFT JOIN c1 cw2 ON cw2.w1 = hg.w2 CROSS JOIN v GROUP BY doc_id) " +
        "SELECT ho.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, " +
        "coalesce(round(CAST(s.s AS DOUBLE) / s.n_bigrams, 6), 0.0) AS bo_cross_entropy " +
        "FROM ho LEFT JOIN s USING (doc_id)")),

    // winnowing fingerprints (Schleimer et al. SIGMOD'03, the MOSS
    // algorithm): min-hash of each 4-window over md5 word-3-gram hashes
    QuerySpec("text_winnow", (s, dir) => driverSafe(
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
        n = 3, window = 4)),
      // winnowing: per-position window minima over md5-prefix n-gram hashes
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS grams FROM t), " +
        s"h AS (SELECT doc_id, list_transform(grams, g -> ${sqlMd5Long("g")}) AS hs FROM g), " +
        "w AS (SELECT doc_id, CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[]) " +
        "ELSE list_sort(list_distinct(list_transform(range(1, greatest(len(hs) - 3, 1) + 1), " +
        "i -> list_min(hs[i:i+3])))) END AS fps FROM h) " +
        "SELECT doc_id, coalesce(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), '|'), '') AS fps FROM w")))
}
