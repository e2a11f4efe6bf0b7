package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-based n-gram language-model scoring — the CCNet-style quality
  * signal: documents whose token stream is unlikely under a corpus-trained
  * LM are boilerplate, noise, or wrong-language, and get filtered or
  * down-mixed before training.
  *
  * The model is an add-one-smoothed bigram LM trained on a reference
  * corpus (here: the corpus itself; any cleaned frame works):
  *   P(w2 | w1) = (C(w1 w2) + 1) / (C(w1) + V)
  * and each document is scored by its token-level cross-entropy
  *   H(d) = −(1/|bigrams(d)|) · Σ ln P(w2 | w1).
  *
  * Scale design:
  *   - counts are plain groupBy aggregations (map-side partial combine);
  *     the model IS two DataFrames — nothing is collected to the driver,
  *     so the vocabulary can be corpus-sized.
  *   - scoring joins the document bigram stream against the count tables
  *     on the gram key: a shuffle hash join that AQE skew-splits on hot
  *     grams (stopword pairs) — no broadcast assumption on the model.
  *   - the per-document Σ ln P goes through DECIMAL so the sum is exact
  *     and accumulation-order-free (double summation order differs
  *     between engines and even between runs).
  *   - unseen bigrams/contexts (scoring a corpus the model was not
  *     trained on) hit the left-join NULL path and cost the smoothed
  *     floor 1/(C(w1)+V) — no row is dropped.
  */
object LangModel {

  /** Bigram and context-unigram count tables + vocabulary size from a
    * token-array frame. Returns (bigrams(gram, c2), contexts(w1, c1),
    * vocabSize) — the third is a one-row frame (n_vocab), NOT a collected
    * scalar. Distinct-token counting is exact here because V enters the
    * smoothing denominator (an HLL estimate would make scores
    * irreproducible). */
  def trainBigram(docs: DataFrame, toksCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val grams = docs.select(
      explode(TextFunctions.tokenNgrams(col(toksCol), 2)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c2"))
    val unis = docs.select(explode(col(toksCol)).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = unis.agg(count(lit(1)).as("n_vocab"),
      sum(col("c1")).as("n_tokens"))
    (grams, unis, vocab)
  }

  /** Cross-entropy of each document under the trained bigram model.
    * Output: (doc_id, n_bigrams, cross_entropy) — cross_entropy rounded
    * to 6, 0.0 for docs with fewer than two tokens. Lower is
    * more-predictable text; gate with e.g. `cross_entropy < 8`. */
  def crossEntropy(docs: DataFrame, idCol: String, textCol: String,
                   model: (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (grams, unis, vocab) = model
    val docGrams = docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        explode(TextFunctions.tokenNgrams(col("toks"), 2)).as("gram"))
      // w1 = the context token: everything before the single separator
      // space that tokenNgrams(_, 2) inserts (tokens cannot contain
      // whitespace by construction)
      .withColumn("w1", substring_index(col("gram"), " ", 1))
    val scored = docGrams
      .join(grams, Seq("gram"), "left")
      .join(unis, Seq("w1"), "left")
      .join(broadcast(vocab))
      .withColumn("_nll",
        (-log((coalesce(col("c2"), lit(0L)).cast("double") + 1.0) /
          (coalesce(col("c1"), lit(0L)).cast("double") + col("n_vocab"))))
          .cast("decimal(27,12)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_nll")).as("_s"))
      .withColumn("cross_entropy",
        round(col("_s").cast("double") / col("n_bigrams"), 6))
      .select(col("doc_id"), col("n_bigrams"), col("cross_entropy"))
    // docs with < 2 tokens have no bigrams: left-join them back at H = 0
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("cross_entropy"), lit(0.0)).as("cross_entropy"))
  }

  /** Stupid-Backoff cross-entropy (Brants et al., "Large Language Models
    * in Machine Translation", EMNLP'07) — the scoring rule DESIGNED for
    * MapReduce-scale count tables: no discounting to renormalize, just
    *   S(w2|w1) = c(w1 w2)/c(w1)            when the bigram was seen,
    *            = α · (c(w2)+1)/(N+V)       otherwise (α = 0.4).
    * The backoff leg is the add-one unigram relative frequency (the +1/+V
    * keeps unseen WORDS finite — Brants et al. leave the unseen-word case
    * open; this is the documented choice, mirrored by the oracle).
    * S is a score, not a probability (it does not sum to 1) — exactly the
    * trade the paper makes for distributed-count simplicity.
    *
    * Held-out scoring is the intended use: train on the kept split, score
    * new/eval docs, where the backoff leg actually fires. Same join shape
    * and DECIMAL discipline as [[crossEntropy]], plus one extra join on
    * the SECOND token (the backed-off-to unigram). */
  def backoffCrossEntropy(docs: DataFrame, idCol: String, textCol: String,
                          model: (DataFrame, DataFrame, DataFrame),
                          alpha: Double = 0.4): DataFrame = {
    val (grams, unis, vocab) = model
    val docGrams = docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        explode(TextFunctions.tokenNgrams(col("toks"), 2)).as("gram"))
      .withColumn("w1", substring_index(col("gram"), " ", 1))
      .withColumn("w2", substring_index(col("gram"), " ", -1))
    val c1w2 = unis.select(col("w1").as("w2"), col("c1").as("c1_w2"))
    val score =
      when(coalesce(col("c2"), lit(0L)) > 0,
        col("c2").cast("double") / col("c1"))
        .otherwise(lit(alpha) *
          (coalesce(col("c1_w2"), lit(0L)).cast("double") + 1.0) /
          (col("n_tokens").cast("double") + col("n_vocab")))
    val scored = docGrams
      .join(grams, Seq("gram"), "left")
      .join(unis, Seq("w1"), "left")
      .join(c1w2, Seq("w2"), "left")
      .join(broadcast(vocab))
      .withColumn("_nll", (-log(score)).cast("decimal(27,12)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_nll")).as("_s"))
      .withColumn("bo_cross_entropy",
        round(col("_s").cast("double") / col("n_bigrams"), 6))
      .select(col("doc_id"), col("n_bigrams"), col("bo_cross_entropy"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("bo_cross_entropy"), lit(0.0)).as("bo_cross_entropy"))
  }

  /** Train-on-self convenience: the usual first pass, where the corpus is
    * its own reference model. */
  def selfCrossEntropy(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
    crossEntropy(docs, idCol, textCol, trainBigram(toks, "toks"))
  }

  /** DoReMi-flavoured mixture reweighting (Xie et al., NeurIPS 2023 —
    * Domain Reweighting with Minimax Optimization, simplified to ONE
    * exponentiated-gradient step from a uniform reference): per source,
    * the bigram-weighted average self-LM NLL; its EXCESS over the
    * corpus average is the hardness signal, and the updated mixture is
    * w_s ∝ exp(η · excess_s), normalized to ppm. Sources whose text the
    * corpus LM finds hard get up-weighted — the standard
    * train-on-what-you-miss mixture heuristic, here as a single
    * deterministic pass rather than the paper's proxy-model loop.
    *
    * Determinism: per-doc cross-entropies are the ORACLE-PROVEN
    * [[crossEntropy]] values (rounded to 6), aggregated as exact
    * decimals; averages and the EG step are then one fixed IEEE
    * expression tree (the CUPED discipline; `exp` rides the same
    * cross-engine-libm precedent as the LM's `ln`). Three small
    * aggregations over one persisted per-source frame (|sources| rows)
    * + two 1-row broadcasts — corpus cost is the one LM scoring pass.
    * Output: (source, n_bigrams, avg_nll_us, weight_ppm). */
  def doremiSourceWeights(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, eta: Double = 1.0): DataFrame = {
    val ce = selfCrossEntropy(docs, idCol, textCol)
    val bySrc = docs
      .select(col(idCol).as("doc_id"), col(sourceCol).as("source"))
      .join(ce, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("cross_entropy").cast("decimal(27,12)") * col("n_bigrams"))
          .as("_sv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = bySrc.agg(sum(col("_sv")).cast("double").as("_st"),
      sum(col("n_bigrams")).cast("double").as("_bt"))
    val scored = bySrc.crossJoin(broadcast(tot))
      .withColumn("_avg", when(col("n_bigrams") > 0,
        col("_sv").cast("double") / col("n_bigrams")).otherwise(lit(0d)))
      .withColumn("_e",
        exp(lit(eta) * (col("_avg") - col("_st") / col("_bt")))
          .cast("decimal(27,12)"))
    val norm = scored.agg(sum(col("_e")).as("_en"))
    val out = scored.crossJoin(broadcast(norm))
      .select(col("source"), col("n_bigrams"),
        floor(col("_avg") * lit(1000000d)).cast("long").as("avg_nll_us"),
        floor(col("_e").cast("double") * lit(1000000d) /
          col("_en").cast("double")).cast("long").as("weight_ppm"))
    Frames.sealRelease(out, bySrc)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): split
    * the corpus into head / middle / tail by exact TERCILES of the
    * self-LM cross-entropy — the standard "keep the head, maybe sample
    * the middle, drop the tail" quality gate, with the thresholds derived
    * from the corpus itself rather than hardcoded.
    *
    * Thresholds use exact `percentile` (≡ DuckDB `quantile_cont`, the
    * calibrate precedent — identical interpolation arithmetic on the
    * identical rounded doubles, so the cut points are bit-equal); at
    * 100 TB swap to `percentile_approx` and treat the buckets as
    * estimates. The threshold frame is one row, broadcast back; the
    * bucket label is a per-row comparison. Output: (bucket, n_docs,
    * n_bigrams) — corpus-size-independent. */
  def perplexityBuckets(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val ce = selfCrossEntropy(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val th = ce.agg(
      percentile(col("cross_entropy"), lit(1.0 / 3)).as("t1"),
      percentile(col("cross_entropy"), lit(2.0 / 3)).as("t2"))
    val out = ce.crossJoin(broadcast(th))
      .select(col("n_bigrams"),
        when(col("cross_entropy") <= col("t1"), "head")
          .when(col("cross_entropy") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("n_bigrams"))
    Frames.sealRelease(out, ce)
  }
}
