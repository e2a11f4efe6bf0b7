package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Multinomial Naive Bayes text classification (McCallum & Nigam 1998) —
  * the count-based stand-in for the fastText-style linear classifiers
  * production pipelines use for language ID, domain routing, and quality
  * filtering (CCNet, Wenzek et al. 2020): interpretable, one training
  * pass, and every score is a pure function of corpus counts — which is
  * what makes it the one text classifier a SQL oracle can recompute
  * exactly.
  *
  * Train/test split is the stable md5 bucket ([[Sampling.stableBucket]]
  * < `trainPct`), so the model and the report are pure functions of the
  * data; held-out docs carry their true label, so the report doubles as
  * holdout accuracy (`correct`).
  *
  * Model: per-class token counts with add-α (Lidstone) smoothing —
  *   ln P(c | d) ∝ ln(n_docs(c) / n_train)
  *               + Σ_{t ∈ d} ln((count(t, c) + α) / (n_tokens(c) + α·V))
  * with V = |train vocabulary|, summed per token OCCURRENCE. Tokens never
  * seen in class c (including tokens absent from the whole train split)
  * contribute the floor term ln(α / (n_tokens(c) + α·V)) — coalesced, not
  * dropped, so a doc full of novel tokens still classifies by prior.
  */
object NaiveBayes {

  /** Classify the held-out split of `docs` with a model trained on the
    * rest.
    *
    * Scale shape: the model is two VOCABULARY-bounded frames, never a
    * driver-side structure — per-(class, token) counts (one explode →
    * map-side-combined groupBy; Heaps' law keeps this sublinear in the
    * corpus) and a classes-row stats frame that BROADCASTS (priors, token
    * totals, vocab size — the only scalars, carried as one-row/|C|-row
    * broadcast frames, no collect). Scoring explodes the held-out token
    * stream × |C| classes (|C| is small by construction: languages,
    * domains, quality tiers) and equi-joins the count frame on (class,
    * token) — hot stopword keys are exactly the AQE skew-join case. The
    * per-(doc, class) Σ ln rides DECIMAL(27,12) so accumulation order
    * cannot flap the score across cluster layouts; the final argmax is a
    * |C|-bounded window per doc id, never a corpus-wide sort.
    *
    * Output: (id, true_label, pred_label, logp, margin, correct) — one
    * row per held-out doc. `logp` is the predicted class's unnormalized
    * log-posterior (rounded 6); `margin` = best − second-best (NULL when
    * only one class exists); ties break toward the lowest label. */
  def classify(docs: DataFrame, idCol: String, textCol: String,
               labelCol: String, trainPct: Int = 80,
               alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0; got $alpha")
    val bucket = Sampling.stableBucket(col(idCol))
    val base = docs.select(col(idCol), col(labelCol).as("_lbl"),
      TextFunctions.tokens(col(textCol)).as("_toks"))
    val train = base.filter(bucket < trainPct)
    val test = base.filter(bucket >= trainPct)

    val trainToks = train.select(col("_lbl"), explode(col("_toks")).as("_t"))
    // per-(class, token) counts: the model's big (but vocab-bounded) half
    val tc = trainToks.groupBy(col("_lbl"), col("_t"))
      .agg(count(lit(1)).as("_ct"))
    // |C| rows: doc and token totals per class
    val classStats = train.groupBy(col("_lbl"))
      .agg(count(lit(1)).as("_ndocs"),
        sum(size(col("_toks")).cast("long")).as("_ntoks"))
    // one-row frames: train doc total and vocabulary size
    val nTrain = classStats.agg(sum(col("_ndocs")).as("_ntrain"))
    val vocab = trainToks.agg(countDistinct(col("_t")).as("_v"))
    val classes = classStats.crossJoin(broadcast(nTrain))
      .crossJoin(broadcast(vocab))
      .select(col("_lbl"),
        log(col("_ndocs").cast("double") / col("_ntrain")).as("_prior"),
        (col("_ntoks") + lit(alpha) * col("_v")).cast("double").as("_denom"))

    // held-out token stream × classes; unseen (class, token) → count 0
    val testToks = test.select(col(idCol), explode(col("_toks")).as("_t"))
    val occ = testToks.join(broadcast(classes.select(col("_lbl"), col("_denom"))))
      .join(tc, Seq("_lbl", "_t"), "left")
      .withColumn("_term",
        log((coalesce(col("_ct"), lit(0L)) + lit(alpha)) / col("_denom"))
          .cast("decimal(27,12)"))
      .groupBy(col(idCol), col("_lbl"))
      .agg(sum(col("_term")).as("_tsum"))

    // left join restores zero-token docs (classified by prior alone)
    val full = test.select(col(idCol), col("_lbl").as("true_label"))
      .crossJoin(broadcast(classes.select(col("_lbl"), col("_prior"))))
      .join(occ, Seq(idCol, "_lbl"), "left")
      .withColumn("_logp",
        col("_prior") + coalesce(col("_tsum").cast("double"), lit(0.0)))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("_logp").desc, col("_lbl").asc)
    full
      .withColumn("_rn", row_number().over(w))
      .withColumn("_next", lead(col("_logp"), 1).over(w))
      .filter(col("_rn") === 1)
      .select(col(idCol), col("true_label"), col("_lbl").as("pred_label"),
        round(col("_logp"), 6).as("logp"),
        round(col("_logp") - col("_next"), 6).as("margin"),
        (col("_lbl") === col("true_label")).as("correct"))
  }
}
