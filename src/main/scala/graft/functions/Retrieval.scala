package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-text retrieval over a document corpus: BM25 scoring of a small
  * keyword-query set against every document, top-k per query.
  *
  * Scale design (the 100 TB shape):
  *   - the query set is SMALL by contract (a serving batch) — it is
  *     broadcast; the corpus is never reshuffled for it.
  *   - the token stream is restricted to QUERY terms before any
  *     aggregation (broadcast semi-join on the exploded tokens), so the
  *     posting frame carries only |docs containing a query term| rows,
  *     not the full inverted index.
  *   - document frequencies come from re-aggregating that same posting
  *     frame — its shuffle exchange is identical in both branches, so
  *     Spark reuses it (ReusedExchange), not a second corpus scan.
  *   - corpus stats (N, total token length) are one tiny aggregate,
  *     broadcast-cross-joined back — never collected to the driver.
  *   - per-(query, doc) scores sum per-term BM25 contributions as
  *     DECIMAL: exact and accumulation-order-free, so ranking ties are
  *     impossible to get wrong across engines and the DuckDB oracle
  *     hash-matches (same trick as the pricing aggregates).
  *   - final top-k per query is the shared two-stage salted pattern
  *     ([[Similarity.topKPerQuery]]) — no single-reducer window.
  */
object Bm25 {

  /** Per-term BM25 contribution: idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (the Lucene form —
    * always positive). Kept as a named helper so the SQL oracle mirrors
    * the exact expression shape. */
  private def termScore(tf: Column, df: Column, dl: Column,
                        n: Column, avgdl: Column,
                        k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) + (n.cast("double") - df.cast("double") + 0.5) /
      (df.cast("double") + 0.5))
    val norm = tf.cast("double") * (k1 + 1.0) /
      (tf.cast("double") + lit(k1) * (lit(1.0 - b) + lit(b) * dl.cast("double") / avgdl))
    idf * norm
  }

  /** BM25 top-k documents per query.
    *
    * `queries(queryId, queryText)` must be small (it is broadcast and its
    * distinct terms gate the corpus token stream). Output:
    * (query_id, rank, doc_id, score) with score rounded to 6 — ranking is
    * decided on the exact decimal sum with doc-id tie-break, so order is
    * total and engine-independent. */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           queries: DataFrame, queryId: String, queryText: String,
           k: Int, k1: Double = 1.2, b: Double = 0.75,
           salts: Int = 64): DataFrame = {
    val docToks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))

    // one-row corpus stats; avgdl derived from exact longs so both engines
    // divide the same integers
    val stats = docToks.agg(count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("sum_dl"))

    val qTerms = queries.select(col(queryId).as("query_id"),
      explode(array_distinct(TextFunctions.tokens(col(queryText)))).as("term"))
    val vocab = qTerms.select(col("term")).distinct()

    // postings restricted to query vocabulary BEFORE the (doc, term) agg:
    // explode is linear map-side work; the broadcast join drops every
    // non-query term in the same stage
    val postings = docToks
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(vocab), Seq("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

    // df per term re-aggregates `postings` — identical exchange subtree in
    // both branches, so the shuffle is computed once (ReusedExchange)
    val dfPerTerm = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))

    val scored = postings
      .join(broadcast(dfPerTerm), Seq("term"))
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(stats))
      .withColumn("_ts", termScore(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("sum_dl").cast("double") / col("n_docs"), k1, b)
        .cast("decimal(27,12)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("_ts")).as("_score"))
      .withColumn("sim", col("_score").cast("double"))
      .drop("_score")

    Similarity.topKPerQuery(scored, "query_id", "doc_id", k, salts)
      .withColumnRenamed("neighbor_id", "doc_id")
      .withColumnRenamed("sim", "score")
  }
}

/** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
  * SIGIR'01) — the language-modeling scorer beside [[Bm25]], and the
  * second standard lexical ranking model a serving stack A/Bs against
  * it: score(q,d) = Σ_{t ∈ q ∩ C} ln(1 + tf_{t,d}·T/(µ·cf_t))
  * + |q ∩ C|·ln(µ/(dl_d + µ)), with cf_t the collection frequency,
  * T the total token count and µ the Dirichlet prior (2000 — the
  * published default). Query terms absent from the collection
  * contribute nothing (declared; p(t|C) = 0 has no finite smoothing).
  *
  * Same scale skeleton as [[Bm25.topK]], deliberately: broadcast query
  * set, postings restricted to query vocabulary before any aggregation,
  * collection frequencies re-aggregate the postings frame
  * (ReusedExchange), per-term contributions summed as DECIMAL so
  * accumulation order cannot matter, salted two-stage top-k. The one
  * extra frame is n_qc (per-query count of in-collection terms) —
  * query-set-sized, broadcast. */
object QueryLikelihood {

  def topK(docs: DataFrame, idCol: String, textCol: String,
           queries: DataFrame, queryId: String, queryText: String,
           k: Int, mu: Double = 2000.0, salts: Int = 64): DataFrame = {
    val docToks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = docToks.agg(count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("sum_dl"))
    val qTerms = queries.select(col(queryId).as("query_id"),
      explode(array_distinct(TextFunctions.tokens(col(queryText))))
        .as("term"))
    val vocab = qTerms.select(col("term")).distinct()
    val postings = docToks
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(vocab), Seq("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val cfPerTerm = postings.groupBy(col("term"))
      .agg(sum(col("tf")).as("cf"))
    val nQc = qTerms.join(broadcast(cfPerTerm), Seq("term"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_qc"))
    val scored = postings
      .join(broadcast(cfPerTerm), Seq("term"))
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(stats))
      .withColumn("_ts", log(lit(1.0) +
        col("tf").cast("double") * col("sum_dl").cast("double") /
          (lit(mu) * col("cf").cast("double"))).cast("decimal(27,12)"))
      .groupBy(col("query_id"), col("doc_id"), col("dl"))
      .agg(sum(col("_ts")).as("_s"))
      .join(broadcast(nQc), Seq("query_id"))
      .withColumn("sim",
        (col("_s") + (col("n_qc").cast("double") *
          log(lit(mu) / (col("dl").cast("double") + lit(mu))))
          .cast("decimal(27,12)")).cast("double"))
      .select(col("query_id"), col("doc_id"), col("sim"))
    Similarity.topKPerQuery(scored, "query_id", "doc_id", k, salts)
      .withColumnRenamed("neighbor_id", "doc_id")
      .withColumnRenamed("sim", "score")
  }
}

/** Positional inverted-index construction (beyond-parity): the index-build
  * pipeline a serving stack runs offline — per (term, doc) postings with
  * term frequency and GAP-ENCODED positions (first absolute, then deltas),
  * the transform that makes posting lists compress (Zobel & Moffat, ACM
  * CS'06 §4) before they ship to a serving store.
  *
  * Scale shape: one posexplode (linear map-side), ONE shuffle on
  * (term, doc) with map-side partial collect, document frequencies
  * re-aggregate the postings frame itself (ReusedExchange, the Bm25
  * trick), and the df gate bounds the output. Position arrays live per
  * (term, doc) — bounded by a document's length, never concatenated
  * across docs. The delta encode is `zip_with` against the list's own
  * 1-shifted self — HOF ARGUMENTS, evaluated once per row (the
  * CollapseProject re-evaluation trap documented in SCALE.md). */
object Postings {

  /** Build gap-encoded positional postings for terms whose document
    * frequency lies in [minDf, maxDf] (the serving-worthy band: drop
    * hapaxes below, stop-terms above). Output:
    * (term, doc_id, tf, df, deltas) with deltas = "p0|g1|g2|…". */
  def positional(docs: DataFrame, idCol: String, textCol: String,
                 minDf: Long, maxDf: Long): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "term")))
    val perDoc = toks.groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    val dfs = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    perDoc
      .join(dfs.filter(col("df").between(minDf, maxDf)), Seq("term"))
      .withColumn("deltas",
        zip_with(col("ps"),
          concat(array(lit(0)), slice(col("ps"), lit(1), size(col("ps")) - 1)),
          (a, b) => a - b))
      .select(col("term"), col("doc_id"),
        size(col("ps")).cast("long").as("tf"), col("df"),
        array_join(transform(col("deltas"), _.cast("string")), "|")
          .as("deltas"))
  }

  /** Conjunctive (AND) boolean retrieval: documents containing EVERY
    * query term. One posting join against the broadcast term list, one
    * per-(query, doc) count compared to the query's term count — the
    * classic intersect-via-count plan, no iterative per-term joins.
    * Output: (query_id, doc_id, n_terms).
    *
    * Scale: the corpus-sized side is touched once (distinct doc terms);
    * queries broadcast (they are human-written — dimension-sized); the
    * groupBy's map-side partials bound the shuffle by per-task distinct
    * (query, doc) hits. */
  def booleanAnd(docs: DataFrame, idCol: String, textCol: String,
                 queries: DataFrame, qidCol: String,
                 qtextCol: String): DataFrame = {
    val qt = queries.select(col(qidCol).as("query_id"),
      explode(array_distinct(TextFunctions.tokens(col(qtextCol))))
        .as("term"))
    val qn = qt.groupBy(col("query_id")).agg(count(lit(1)).as("n_terms"))
    val posting = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextFunctions.tokens(col(textCol))))
        .as("term"))
    posting.join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
      .join(broadcast(qn), Seq("query_id"))
      .filter(col("n_hit") === col("n_terms"))
      .select(col("query_id"), col("doc_id"), col("n_terms"))
  }

  /** Exact phrase search over positional postings: a phrase of terms
    * t₀…tₖ₋₁ matches at anchor a iff term tᵢ occurs at position a+i for
    * every i — each posting row joins the broadcast (term, offset) list,
    * normalizes its position to an anchor (pos − offset), and a phrase
    * occurrence is an anchor holding all k offsets. Repeated phrase terms
    * ("the … the") are handled by counting DISTINCT offsets, not terms.
    * Output: (query_id, doc_id, n_occurrences, first_pos).
    *
    * Scale: one pass over (doc, pos, term) triples, one broadcast join,
    * two hash aggregates — never a per-term self-join chain (k−1 joins of
    * corpus-sized postings, the naive plan) and no position arrays
    * concatenated across documents. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   queries: DataFrame, qidCol: String,
                   qtextCol: String): DataFrame = {
    val qt = queries.select(col(qidCol).as("query_id"),
      posexplode(TextFunctions.tokens(col(qtextCol)))
        .as(Seq("off", "term")))
    val qn = qt.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_terms"))
    val posting = docs.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "term")))
    posting.join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("off")).cast("long").as("anchor"), col("off"))
      .filter(col("anchor") >= 0)
      .groupBy(col("query_id"), col("doc_id"), col("anchor"))
      .agg(count_distinct(col("off")).as("k"))
      .join(broadcast(qn), Seq("query_id"))
      .filter(col("k") === col("n_terms"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("anchor")).as("first_pos"))
  }
}

/** Hybrid-retrieval rank fusion (beyond-parity): combine a lexical (BM25)
  * and a vector (ANN) ranking of the same corpus with Reciprocal Rank
  * Fusion (Cormack et al. SIGIR'09) — the standard first stage of a
  * RAG serving pipeline, where neither signal alone recalls everything.
  *
  * RRF(d) = Σ_r 1/(c + rank_r(d)) over the rankings that surfaced d.
  * Scores are kept as exact integers — ⌊10¹²/(c+rank)⌋ summed as longs —
  * so the fused ordering is total, accumulation-order-free, and identical
  * across engines (the same integer-µ trick as the ppm mixture rates).
  *
  * Scale shape: input rankings are top-k-per-query frames (|queries|·k
  * rows — already reducer-sized by construction, the corpus never
  * reappears here), one union + one hash aggregation, then the shared
  * salted top-k. Fusing N rankings is the same single aggregation. */
object Fusion {

  /** Fuse per-query rankings by RRF. Each input must carry
    * (queryId, rank, docId); ranks start at 1. Output:
    * (query_id, rank, doc_id, rrf_e12, hits) — rrf_e12 the exact integer
    * score, hits = how many input rankings surfaced the doc. */
  def rrf(rankings: Seq[DataFrame], queryId: String, docId: String,
          rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(rankings.size >= 2, "rrf fuses at least two rankings")
    val unioned = rankings
      .map(_.select(col(queryId).as("query_id"), col(docId).as("doc_id"),
        col(rankCol).cast("long").as("_rank")))
      .reduce(_ unionByName _)
    // ⌊10¹²/(c+rank)⌋ via double floor is exact here: quotients are ~2^34
    // (ulp ≪ 1/(c+rank), the minimum distance to an integer when the
    // division isn't exact), so it agrees with DuckDB's BIGINT `//`.
    val scored = unioned
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(floor(lit(1000000000000L) / (col("_rank") + c)).cast("long"))
          .as("rrf_e12"),
        count(lit(1)).as("hits"))
    // plain window, not the salted pattern: the fused frame is already
    // |queries|·(Σ ranking k) rows by construction — reducer-sized even
    // when the corpus is 100 TB
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_e12").desc, col("doc_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_e12"), col("hits"))
  }
  /** RANK-BIASED OVERLAP between two truncated rankings (Webber, Moffat
    * & Zobel, TOIS'10) at fixed p = 0.9 — the top-weighted similarity
    * measure for comparing two RANKERS' outputs (BM25 vs query-
    * likelihood, old index vs new) where Jaccard-of-sets ignores order
    * and Kendall's τ over-weights the tail. Truncated form (depths
    * 1..k, no extrapolation — declared): RBO_k = Σ_d (1−p)·p^{d−1}·
    * |A_{:d} ∩ B_{:d}|/d.
    *
    * Exactness: with p = 9/10 the weight (1−p)p^{d−1} = 9^{d−1}/10^d,
    * so each term ×10¹² is ⌊9^{d−1}·10^{12−d}·o_d / d⌋ — pure BIGINT
    * floor division (k ≤ 12 keeps the numerator integral), summed
    * per query; both engines agree bit-for-bit (the RRF/discountsMu
    * convention). A common doc at ranks (ra, rb) contributes to every
    * depth ≥ max(ra, rb) — one small explode over the k-bounded
    * overlap frame, never the corpus.
    *
    * Inputs carry (queryId, rankCol, docId), ranks from 1; both are
    * top-k frames (|queries|·k rows). Output: (query_id, rbo_e12,
    * n_common) with zero rows preserved for overlap-free queries. */
  def rbo(a: DataFrame, b: DataFrame, queryId: String, docId: String,
          rankCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 12, s"k must be in [1,12] for exact weights: $k")
    def leg(df: DataFrame, r: String) =
      df.select(col(queryId).as("query_id"), col(docId).as("doc_id"),
        col(rankCol).cast("long").as(r)).filter(col(r) <= k)
    val common = leg(a, "_ra").join(leg(b, "_rb"), Seq("query_id", "doc_id"))
      .withColumn("_dmin", greatest(col("_ra"), col("_rb")).cast("int"))
    val wnum = (1 to k).map(d =>
      d.toLong -> (BigInt(9).pow(d - 1) * BigInt(10).pow(12 - d)).toLong)
    val wmap = map(wnum.flatMap { case (d, w) =>
      Seq(lit(d), lit(w)) }: _*)
    val terms = common
      .select(col("query_id"),
        explode(sequence(col("_dmin"), lit(k))).as("_d"))
      .groupBy(col("query_id"), col("_d"))
      .agg(count(lit(1)).as("_od"))
      // double-floor division is exact here (the RRF argument): the
      // numerator is < 2^44, so a non-exact quotient sits ≥ 1/d ≫ ulp
      // from any integer and floor agrees with BIGINT `//`
      .withColumn("_term",
        floor(element_at(wmap, col("_d").cast("long")) * col("_od") /
          col("_d")).cast("long"))
      .groupBy(col("query_id")).agg(sum(col("_term")).as("rbo_e12"))
    leg(a, "_ra").select(col("query_id")).distinct()
      .join(terms, Seq("query_id"), "left")
      .join(common.groupBy(col("query_id")).agg(count(lit(1)).as("n_common")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("rbo_e12"), lit(0L)).as("rbo_e12"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
  }
}

/** Offline ranking-quality evaluation (NDCG@k / MRR / precision@k) for the
  * retrieval stack — the eval harness that closes the loop on Bm25 /
  * Fusion / ANN serving: given a ranked run and graded relevance
  * judgments, score each query (Järvelin & Kekäläinen, TOIS 2002).
  *
  * Everything is exact integer arithmetic so runs hash-match across
  * engines: the 1/log₂(rank+1) discount ladder is precomputed driver-side
  * as µ literals (no transcendental evaluates at query time), gains are
  * 2^rel − 1 via shifts, and NDCG/MRR emit as exact floor-division ppm.
  *
  * Scale shape: the run is filtered to rank ≤ k BEFORE the judgment join
  * (k rows per query), judgments join on (query, doc) — qrels are
  * human-labeled and inherently per-query-bounded, so the ideal-DCG
  * row_number window partitions into small groups; nothing windows over
  * corpus-sized frames. */
object RankEval {

  /** Discount ladder ⌊10⁶ / log₂(i+1)⌋ for i = 1..k. */
  def discountsMu(k: Int): Seq[Long] =
    (1 to k).map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** Metrics per query.
    *
    * `ranked` — a run: (queryCol, rankCol 1-based, docCol);
    * `rels` — graded judgments over the candidate pool:
    * (queryCol, docCol, relCol ≥ 0); docs missing from `rels` count as
    * rel 0, rel ≥ 2 counts as "relevant" for MRR/precision.
    *
    * Output: (queryCol, dcg_mu, idcg_mu, ndcg_ppm, mrr_ppm, prec_ppm,
    * n_rel_pool). */
  def metrics(ranked: DataFrame, queryCol: String, rankCol: String,
              docCol: String, rels: DataFrame, relCol: String,
              k: Int): DataFrame = {
    require(k >= 1 && 1000000 % k == 0, s"k=$k must divide 10^6")
    val discArr = array(discountsMu(k).map(lit): _*)
    // 2^rel − 1 on the ARGUMENT column (long shift, clamped at 62 so a
    // malformed grade cannot wrap the shift); exact decimal floors via
    // the shared Sampling kernel — a bare long/long divide runs through
    // IEEE double and can round across the floor boundary past 2^53
    def gain(c: Column): Column =
      call_function("shiftleft", lit(1L),
        least(c, lit(62L)).cast("int")) - lit(1L)
    def exactDiv(num: Column, den: Column): Column =
      Sampling.intDivExact(num, den)

    val topk = ranked.filter(col(rankCol) <= k)
      .join(rels, Seq(queryCol, docCol), "left")
      .withColumn(relCol, coalesce(col(relCol), lit(0L)))
    val runAgg = topk.groupBy(col(queryCol)).agg(
      sum(gain(col(relCol)) *
        element_at(discArr, col(rankCol).cast("int"))).as("dcg_mu"),
      min(when(col(relCol) >= 2, col(rankCol))).as("_first_rel"),
      sum(when(col(relCol) >= 2, 1L).otherwise(0L)).as("_n_rel_top"))

    val ideal = rels.withColumn("_ir", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(queryCol))
          .orderBy(col(relCol).desc, col(docCol))))
      .filter(col("_ir") <= k)
      .groupBy(col(queryCol))
      .agg(sum(gain(col(relCol)) *
        element_at(discArr, col("_ir").cast("int"))).as("idcg_mu"))
    val pool = rels.groupBy(col(queryCol))
      .agg(sum(when(col(relCol) >= 2, 1L).otherwise(0L)).as("n_rel_pool"))

    ideal.join(pool, Seq(queryCol))
      .join(runAgg, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("dcg_mu"), lit(0L)).as("dcg_mu"),
        col("idcg_mu"),
        when(col("idcg_mu") > 0,
          exactDiv(coalesce(col("dcg_mu"), lit(0L)) * lit(1000000L),
            col("idcg_mu"))).otherwise(lit(0L)).as("ndcg_ppm"),
        when(col("_first_rel").isNotNull,
          exactDiv(lit(1000000L), col("_first_rel").cast("long")))
          .otherwise(lit(0L)).as("mrr_ppm"),
        (coalesce(col("_n_rel_top"), lit(0L)) *
          lit(1000000L / k)).as("prec_ppm"),
        col("n_rel_pool"))
  }
}
