package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling and splitting for training pipelines.
  *
  * Everything keys off a STABLE hash bucket — md5 of the row key, first
  * 8 hex digits, mod `buckets` — so membership is a pure function of the
  * key: reproducible across runs, engines (any SQL dialect can recompute
  * it), cluster layouts, and corpus growth (a doc never changes split when
  * other docs are added — the property random `sample()` lacks, and the
  * reason train/val contamination audits are possible at all).
  *
  * Scale: the bucket is a per-row codegen'd expression on the scan — no
  * shuffle, no state; filters on it push into the scan like any predicate.
  */
object Sampling {

  /** Stable bucket in [0, buckets): `conv(md5(key)[0,8), 16, 10) mod n`.
    * SQL twin: `('0x' || substring(md5(key), 1, 8))::BIGINT % n`.
    * Native md5-prefix kernel (one digest, no hex/substring/parse per
    * row) — value-identical to the twin by `Md5PrefixExprSpec`. */
  def stableBucket(key: Column, buckets: Int = 100): Column =
    pmod(Dedup.Md5Hasher.prefixLong(key.cast("string"), 8),
      lit(buckets.toLong))

  /** Keep ~pct% of rows, deterministically by key. */
  def stableSample(df: DataFrame, key: Column, pct: Int): DataFrame =
    df.filter(stableBucket(key) < pct)

  /** Driver-bound stable sample: `samplePct` filter by md5 bucket (pushes
    * into the scan), then the first `sampleCap` rows in (stable-hash, key)
    * order — a cap by raw key would sample only the earliest data of a
    * time-ordered corpus; hash order keeps the capped subset deterministic
    * AND spread. The ONE sampling policy behind every driver-local trainer
    * (`Ivf.train`, `Pq.trainCodebooks`) — and the order the SQL oracles
    * mirror, so keep the two in lockstep. */
  def stableCappedSample(df: DataFrame, key: Column, samplePct: Int,
                         sampleCap: Int): DataFrame =
    (if (samplePct >= 100) df else df.filter(stableBucket(key) < samplePct))
      .orderBy(stableBucket(key, 1 << 30), key)
      .limit(sampleCap)

  /** Stratified deterministic sampling — the data-mixture knob: keep
    * `pctByStratum(stratum)`% of each stratum's rows (`defaultPct` for
    * strata not in the map), membership decided by the SAME stable bucket
    * as every other sampling op, so a doc's fate is a pure function of
    * (key, its stratum's rate): reproducible, engine-recomputable, and
    * monotone — raising a rate only ADDS docs, never swaps them (the
    * property that makes mixture ablations comparable run-to-run).
    * One per-row codegen'd predicate on the scan: no shuffle, no
    * per-stratum pass, strata counts never collected. */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       pctByStratum: Map[String, Int],
                       defaultPct: Int = 100): DataFrame = {
    val rate =
      if (pctByStratum.isEmpty) lit(defaultPct)
      else coalesce(
        element_at(
          map(pctByStratum.toSeq.sortBy(_._1).flatMap {
            case (s, p) => Seq(lit(s), lit(p))
          }: _*), stratum),
        lit(defaultPct))
    df.filter(stableBucket(key) < rate)
  }

  /** Exact floor division on non-negative integral columns. The subtraction
    * makes the numerator divisible by b and the DECIMAL division keeps the
    * quotient exact for products past 2^53 (a bare double `/` would round;
    * callers multiply budgets by 10^6). */
  private[functions] def intDiv(a: Column, b: Column): Column = {
    val ad = a.cast("decimal(38,0)")
    val bd = b.cast("decimal(38,0)")
    ((ad - pmod(ad, bd)) / bd).cast("long")
  }

  /** Public alias of [[intDiv]] for query-layer compositions outside this
    * package (same exact floor-division semantics). */
  def intDivExact(a: Column, b: Column): Column = intDiv(a, b)

  /** Token-BUDGET data mixture — the sampler that answers "give me a
    * `budgetTokens`-token corpus that is X% lang-A, Y% lang-B": each
    * stratum's keep-rate is DERIVED from its token volume so the expected
    * kept tokens hit `budget · share`, then membership is the same stable
    * md5 bucket as every other sampler (monotone, engine-recomputable).
    *
    * rate(s) = min(10⁶, 10⁶ · (budget · share(s) div 100) div tokens(s))
    * in PARTS PER MILLION, all integer arithmetic (decimal-exact floor
    * division, so products past 2^53 stay exact). Membership = stable
    * bucket over 10⁶. Floor-twice means a stratum under-fills by at most
    * 1 ppm of its TOKEN VOLUME plus per-bucket sampling noise — percent
    * granularity would floor to rate 0 (silently dropping the stratum)
    * whenever volume exceeds 100× target, exactly the large-corpus/
    * small-budget regime a 100 TB pipeline lives in; ppm moves that cliff
    * to 10⁶× volume-over-target (callers needing finer still should
    * pre-partition the stratum). A stratum with fewer tokens than its
    * target keeps everything (rate 10⁶).
    *
    * Scale: one tiny per-stratum aggregate (map-side combined), broadcast
    * back; the keep decision is a per-row scan predicate. Nothing is
    * collected to the driver. Output: the kept rows of `docs` plus their
    * `rate_ppm`. */
  def tokenBudgetMixture(docs: DataFrame, key: Column, stratum: Column,
                         nTok: Column, budgetTokens: Long,
                         sharePctByStratum: Map[String, Int],
                         defaultSharePct: Int = 0): DataFrame = {
    require(budgetTokens >= 0, s"negative budget: $budgetTokens")
    val share =
      if (sharePctByStratum.isEmpty) lit(defaultSharePct)
      else coalesce(
        element_at(
          map(sharePctByStratum.toSeq.sortBy(_._1).flatMap {
            case (s, p) => Seq(lit(s), lit(p))
          }: _*), col("_mix_stratum")),
        lit(defaultSharePct))
    val withS = docs.withColumn("_mix_stratum", stratum)
      .withColumn("_mix_ntok", nTok.cast("long"))
    val totals = withS.groupBy(col("_mix_stratum"))
      .agg(sum(col("_mix_ntok")).as("_mix_total"))
    val target = intDiv(lit(budgetTokens) * share.cast("long"), lit(100L))
    // ppm product via decimal: 10^6 · target overflows a long for targets
    // past ~9.2·10^12 tokens — real at 100 TB scale
    val rate = when(col("_mix_total") > 0,
      least(lit(1000000L),
        intDiv(target.cast("decimal(38,0)") * lit(1000000L),
          col("_mix_total"))))
      .otherwise(lit(0L))
    withS.join(broadcast(totals), Seq("_mix_stratum"))
      .withColumn("rate_ppm", rate)
      .filter(stableBucket(key, 1000000) < col("rate_ppm"))
      .drop("_mix_stratum", "_mix_ntok", "_mix_total")
  }

  /** Train/val/test assignment by stable bucket: [0,train) → "train",
    * [train, train+val) → "val", rest → "test". */
  def splitLabel(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = stableBucket(key)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Data-wall forecast: for a per-epoch token budget and target mixture
    * shares, how many epochs of each stratum exist before the sampler
    * must repeat data — `epochs_ppm = 10⁶ · stratum_tokens / (budget ·
    * share)`. Below 10⁶ means the stratum runs dry INSIDE one epoch
    * (up-sampling / repetition territory); well above it means headroom.
    * The planning companion of [[tokenBudgetMixture]], same integer
    * discipline. One tiny per-stratum aggregate. */
  def epochsReport(docs: DataFrame, stratum: Column, nTok: Column,
                   budgetTokens: Long, sharePctByStratum: Map[String, Int],
                   defaultSharePct: Int): DataFrame = {
    val share = coalesce(
      element_at(map(sharePctByStratum.toSeq.flatMap {
        case (s, p) => Seq(lit(s), lit(p))
      }: _*), col("stratum")),
      lit(defaultSharePct)).cast("long")
    docs.select(stratum.as("stratum"), nTok.as("_t"))
      .groupBy(col("stratum"))
      .agg(sum(col("_t").cast("decimal(38,0)")).as("_tok"))
      .select(col("stratum"), col("_tok").cast("long").as("n_tokens"),
        share.as("share_pct"),
        intDiv(lit(budgetTokens) * share, lit(100L)).as("target_tokens"))
      .withColumn("epochs_ppm",
        when(col("target_tokens") > 0,
          intDiv(col("n_tokens").cast("decimal(38,0)") * lit(1000000L),
            col("target_tokens")))
          .otherwise(lit(0L)))
  }

  /** Split-BALANCE QA: does the hash split preserve the corpus's length
    * distribution? Per log₂ length bucket, each split's share of its own
    * split total in exact floor-ppm, plus the max pairwise gap — a gap
    * far above sampling noise means the split key correlates with length
    * (e.g. ids assigned by ingest batch) and eval metrics will be biased.
    * One conditional-count aggregate over one scan; the three split
    * totals ride the same pass and broadcast back as one row. */
  def splitBalance(docs: DataFrame, key: Column,
                   size: Column): DataFrame = {
    val lab = splitLabel(key)
    val base = docs.select(lab.as("_s"),
      length(bin(size.cast("long"))).cast("long").as("bucket"))
    val per = base.groupBy(col("bucket")).agg(
      count(when(col("_s") === "train", 1)).as("_tr"),
      count(when(col("_s") === "val", 1)).as("_va"),
      count(when(col("_s") === "test", 1)).as("_te"))
    val tot = base.agg(
      count(when(col("_s") === "train", 1)).as("_ttr"),
      count(when(col("_s") === "val", 1)).as("_tva"),
      count(when(col("_s") === "test", 1)).as("_tte"))
    def share(n: Column, d: Column) =
      when(d > 0, intDiv(n.cast("decimal(38,0)") * lit(1000000L), d))
        .otherwise(lit(0L))
    per.crossJoin(broadcast(tot))
      .select(col("bucket"),
        share(col("_tr"), col("_ttr")).as("train_ppm"),
        share(col("_va"), col("_tva")).as("val_ppm"),
        share(col("_te"), col("_tte")).as("test_ppm"))
      .withColumn("max_gap_ppm", greatest(
        abs(col("train_ppm") - col("val_ppm")),
        abs(col("train_ppm") - col("test_ppm")),
        abs(col("val_ppm") - col("test_ppm"))))
  }

  /** Leakage-safe split: assign train/val/test by DEDUP GROUP, not by
    * document — near-duplicates always land in the same split, which is
    * the only split that keeps an eval set honest (a test doc whose
    * near-twin sits in train is contamination the per-doc split cannot
    * see). `groups` is a (id, comp) frame — [[Dedup.componentsFromPairs]]
    * output; docs absent from it are singletons and hash by their own id,
    * so the group join adds nothing for the (typically vast) unique
    * majority beyond one users-sized left join. */
  def groupSplit(docs: DataFrame, id: Column, groups: DataFrame,
                 trainPct: Int = 80, valPct: Int = 10): DataFrame =
    docs.select(id.as("doc_id"))
      .join(groups.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("comp"), col("doc_id")))
      .select(col("doc_id"), col("group_id"),
        stableBucket(col("group_id")).as("bucket"),
        splitLabel(col("group_id"), trainPct, valPct).as("split"))

  /** Corpus-level summary in ONE pass — the numbers a pipeline reports
    * after every cleaning stage: doc count, token totals, vocabulary size,
    * exact-duplicate count. Distincts are exact (a full shuffle of the
    * token set), so an oracle recomputes every count. Output is a single
    * row. */
  def corpusStats(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("_t"),
      TextFunctions.contentFingerprint(col(textCol)).as("_fp"))
    val perDoc = toks.select(col(idCol), size(col("_t")).as("_n"), col("_fp"),
      explode_outer(col("_t")).as("_tok"))
    perDoc.agg(
      count_distinct(col(idCol)).as("n_docs"),
      sum(when(col("_tok").isNotNull, 1L).otherwise(0L)).as("n_tokens"),
      count_distinct(col("_tok")).as("vocab_size"),
      (count_distinct(col(idCol)) - count_distinct(col("_fp")))
        .as("n_exact_dups"))
  }

  /** Per-stratum SOURCE-DIVERSITY report — the concentration check a
    * mixture design runs before trusting a stratum: a language whose
    * documents come 95% from one crawl source is one takedown away from
    * collapsing. Reports, per stratum: doc count, distinct sources,
    * Simpson concentration Σ(c_s/N)² and the largest single source's
    * share, both as exact floor-ppm integers (Σc², c_max and N² ride
    * DECIMAL so nothing rounds or overflows; a stratum from one source
    * scores 10⁶, perfectly even over k sources scores ~10⁶/k — the
    * reciprocal is the "effective source count"). Entropy is deliberately
    * NOT used: ln() is libm-rounded and not cross-engine-reproducible,
    * Simpson is pure integer arithmetic.
    *
    * Scale: groupBy(stratum, source) collapses the corpus map-side to
    * |strata|·|sources| partial rows, then a second tiny aggregate per
    * stratum — output is corpus-size-independent. */
  def sourceConcentration(docs: DataFrame, stratum: Column,
                          source: Column): DataFrame = {
    val per = docs.groupBy(stratum.as("stratum"), source.as("source"))
      .agg(count(lit(1)).as("c"))
    val cDec = col("c").cast("decimal(38,0)")
    val agg = per.groupBy(col("stratum")).agg(
      sum(col("c")).as("n_docs"),
      count(lit(1)).as("n_sources"),
      sum(cDec * cDec).as("_sq"),
      max(col("c")).as("_cmax"))
    val n = col("n_docs").cast("decimal(38,0)")
    agg.select(
      col("stratum"), col("n_docs"), col("n_sources"),
      intDiv(col("_sq") * lit(1000000L), n * n).as("simpson_ppm"),
      intDiv(col("_cmax").cast("decimal(38,0)") * lit(1000000L), n)
        .as("top_share_ppm"))
  }

  /** Deterministic per-stratum EXAMPLE picks — the eyeball sample a
    * pipeline pins next to every mixture/quality decision: the first `n`
    * rows of each stratum in (stable-hash, key) order. Hash order makes
    * the examples spread and reproducible (raw-key order would always
    * show the oldest rows); a grown corpus changes examples only where
    * new keys hash earlier.
    *
    * Scale: rank ≤ n over a by-stratum window plans as WindowGroupLimit
    * (Spark's partial top-k): each map task keeps only its local n per
    * stratum BEFORE the shuffle, so the per-stratum reducer sees
    * ≤ n·tasks rows, not the stratum — safe even with a handful of huge
    * strata (plan-spec'd). */
  def stratumExamples(df: DataFrame, key: Column, stratum: Column,
                      n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_ex_stratum"))
      .orderBy(col("_ex_h"), col("_ex_key"))
    df.withColumn("_ex_stratum", stratum)
      .withColumn("_ex_key", key)
      .withColumn("_ex_h", stableBucket(key, 1 << 30))
      .withColumn("example_rank", row_number().over(w))
      .filter(col("example_rank") <= n)
      .drop("_ex_stratum", "_ex_key", "_ex_h")
  }

  /** Quality-gate CALIBRATION: percentiles of the quality features over
    * the corpus itself, so filter thresholds ("drop the worst decile")
    * derive from the data instead of being hardcoded — the number a
    * pipeline re-reads after every corpus refresh. One aggregation row.
    *
    * Percentiles are exact `percentile` (it sorts each feature's values
    * IN MEMORY per aggregation), which the oracle recomputes as
    * `quantile_cont`. */
  def qualityCalibration(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val feats = TextFunctions.qualityFeatures(col(textCol)).toMap
    val perDoc = docs.select(col(idCol),
      feats("alpha_ratio").as("ar"),
      feats("n_tokens").as("nt"),
      feats("stopword_ratio_en").as("sr"))
    def pct(c: Column, p: Double) = percentile(c, lit(p))
    perDoc.agg(
      count(lit(1)).as("n_docs"),
      round(pct(col("ar"), 0.1), 6).as("alpha_ratio_p10"),
      round(pct(col("ar"), 0.5), 6).as("alpha_ratio_p50"),
      round(pct(col("ar"), 0.9), 6).as("alpha_ratio_p90"),
      round(pct(col("nt").cast("double"), 0.5), 6).as("n_tokens_p50"),
      round(pct(col("nt").cast("double"), 0.9), 6).as("n_tokens_p90"),
      round(pct(col("sr"), 0.5), 6).as("stopword_ratio_p50"))
  }

  /** Deterministic greedy sequence packing: docs are laid into
    * `target`-token bins in id order WITHIN a shard (bin = which bin the
    * doc STARTS in; `offset_in_bin` its start offset there). Sharding makes
    * it scale: the running sum is a window per shard, not one global
    * single-reducer sort, and assignment stays a pure function of
    * (shard, id order) — reproducible anywhere, auditable in SQL. */
  def packBins(docs: DataFrame, idCol: String, nTokCol: String,
               shard: Column, target: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
    docs.withColumn("shard", shard)
      .withColumn("_prev", sum(col(nTokCol)).over(w) - col(nTokCol))
      .withColumn("bin",
        floor(col("_prev").cast("double") / target).cast("long"))
      .withColumn("offset_in_bin",
        (col("_prev") - col("bin") * target).cast("long"))
      .drop("_prev")
  }

  /** Power-of-two length-bucket ladder for [[lengthBucketBatches]]: 16,
    * 32, …, 65536. A fixed integer ladder, NOT `2^ceil(log2 n)`: libm
    * log2 is not guaranteed exact at power-of-two boundaries across
    * engines, and a bucketing that disagrees in the last ulp reassigns
    * documents. */
  val LengthLadder: Seq[Int] = (4 to 16).map(1 << _)

  /** Length-bucketed training batches — the dynamic-batching pass that
    * decides padding efficiency for sequence training: documents group
    * into power-of-two token-length buckets, fill `batchSize`-doc batches
    * in stable order within each bucket, and every batch reports the
    * padding it would waste when padded to its longest member. Mixing a
    * 10-token doc into a 4096-token batch wastes 99% of the compute; this
    * report is how a pipeline sizes its bucket boundaries before writing
    * training shards.
    *
    * Scale shape: the only ordered state is a `row_number` window per
    * (bucket, shard) — the [[packBins]] sharding rule, because a bare
    * per-bucket window is ~13 reducers forever. Pass `shards` from
    * [[shardsForVolume]] so each reducer sorts a bounded slice; batch
    * identity stays a pure function of (doc id, bucket, shard), so the
    * same batches come out of any cluster layout — reproducible training
    * order, SQL-auditable. Per-batch stats are one bounded aggregation;
    * all arithmetic is integer until the final one-division padding
    * fraction.
    *
    * Output: (bucket, shard, batch_idx, n_docs, max_tokens, sum_tokens,
    * pad_frac) — one row per batch. */
  def lengthBucketBatches(docs: DataFrame, idCol: String, nTokCol: String,
                          batchSize: Int, shards: Int = 1): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1; got $batchSize")
    val n = col("_n")
    val bucket = LengthLadder.tail
      .foldLeft(when(n <= LengthLadder.head, lit(LengthLadder.head))) {
        (acc, b) => acc.when(n <= b, lit(b))
      }.otherwise(lit(LengthLadder.last))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("shard")).orderBy(col(idCol))
    docs
      .select(col(idCol), col(nTokCol).cast("long").as("_n"))
      .withColumn("bucket", bucket)
      .withColumn("shard", stableBucket(col(idCol), shards))
      // Column `/` is true division (double) — floor it back; rn < 2^52
      // keeps the quotient exact, and DuckDB's `//` recomputes it
      .withColumn("batch_idx",
        floor((row_number().over(w) - 1) / lit(batchSize)).cast("long"))
      .groupBy(col("bucket"), col("shard"), col("batch_idx"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("_n")).as("max_tokens"),
        sum(col("_n")).as("sum_tokens"))
      .withColumn("pad_frac", round(when(col("max_tokens") > 0,
        lit(1.0) - col("sum_tokens").cast("double") /
          (col("n_docs") * col("max_tokens"))).otherwise(lit(0.0)), 6))
  }

  /** Train/test CONTAMINATION report — the decontamination primitive an
    * LLM pipeline runs before trusting any eval split: for every non-train
    * document, what fraction of its distinct word-n-gram shingles also
    * appears in ANY train document? (n-gram overlap is the standard
    * contamination test, e.g. GPT-3 App. C / PaLM App. D.)
    *
    * Scale shape: the input is shingled exactly TWICE — one pass for the
    * train side, one for the test side (shingling dominates cost at corpus
    * scale; caching is not an option at 100 TB). The test side is exploded
    * ONCE (`explode_outer`, so shingle-less docs survive), left-joined
    * against the DISTINCT train shingle set, and a single per-doc
    * aggregation counts both `n_sh` (non-null shingles) and `n_hit`
    * (matches) from the same rows. Hot shingles (common phrases) are
    * join-key skew, which AQE's skew-join split handles; nothing is
    * quadratic. */
  def contaminationReport(docs: DataFrame, idCol: String, shingleCol: String,
                          splitCol: String): DataFrame = {
    // distinct is REQUIRED here (unlike a semi join, the outer join below
    // would multiply per duplicate train shingle); it shuffles exploded
    // keys, which is far cheaper than the corpus re-shingle it replaces
    val train = docs.filter(col(splitCol) === "train")
      .select(explode(col(shingleCol)).as("_s")).distinct()
      .withColumn("_hit", lit(1))
    docs.filter(col(splitCol) =!= "train")
      .select(col(idCol), col(splitCol).as("split"),
        explode_outer(col(shingleCol)).as("_s"))
      .join(train, Seq("_s"), "left_outer")
      .groupBy(col(idCol), col("split"))
      .agg(count(col("_s")).as("n_sh"), count(col("_hit")).as("n_hit"))
      .withColumn("contamination", round(when(col("n_sh") > 0,
        col("n_hit").cast("double") / col("n_sh")).otherwise(lit(0.0)), 6))
  }

  /** Shard count sized to token VOLUME: ceil(total_tokens / tokensPerShard),
    * at least 1. Each packing shard is one window reducer sorting its slice,
    * so a FIXED shard count means reducers grow linearly with the corpus —
    * at 100 TB, 8 shards is 8 reducers each sorting 1/8 of everything.
    * Sizing by volume keeps per-reducer work constant as data grows. One
    * scalar aggregation job (a scan with map-side partial sums), and the
    * count stays a pure function of the corpus, so SQL oracles recompute
    * it. */
  def shardsForVolume(docs: DataFrame, nTokCol: String,
                      tokensPerShard: Long): Int = {
    val r = docs.agg(sum(col(nTokCol))).collect()(0)
    val total = if (r.isNullAt(0)) 0L else r.getLong(0)
    math.max(1L, (total + tokensPerShard - 1) / tokensPerShard).toInt
  }

  /** Repetition profile per document — the Gopher/C4-style quality signal
    * that catches boilerplate and looping text: of all word n-grams (WITH
    * multiplicity), what fraction is the single most repeated gram
    * (`top_gram_ratio`), and what fraction is unique (`distinct_ratio`)?
    * Docs with fewer than n tokens yield zero grams and 0.0 ratios.
    *
    * One explode + two aggregations, both with map-side partial
    * aggregation; nothing is per-doc quadratic. */
  def repetitionProfile(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 2): DataFrame = {
    val grams = docs.select(col(idCol),
      explode(TextFunctions.wordNgrams(col(textCol), n)).as("_g"))
    val counts = grams.groupBy(col(idCol), col("_g"))
      .agg(count(lit(1)).as("_c"))
    val profile = counts.groupBy(col(idCol)).agg(
      sum(col("_c")).as("n_grams"),
      (max(col("_c")).cast("double") / sum(col("_c"))).as("top_gram_ratio"),
      (count(lit(1)).cast("double") / sum(col("_c"))).as("distinct_ratio"))
    docs.select(col(idCol)).join(profile, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("top_gram_ratio"), lit(0.0)).as("top_gram_ratio"),
        coalesce(col("distinct_ratio"), lit(0.0)).as("distinct_ratio"))
  }

  /** Temperature-scaled source mixing (the mT5 / XLM-R sampler, α = 0.5):
    * a stratum's sampling share is V^α / Σ V^α of its token volume — the
    * standard upweighting of low-resource sources that plain proportional
    * mixing starves. α is fixed at ½ so the power is `sqrt`, the one libm
    * function IEEE 754 REQUIRES correctly rounded — any engine recomputes
    * the identical weight, which a free-α `pow` could not guarantee.
    *
    * All downstream arithmetic is integer-exact: weights quantize to
    * micro-units (round(√V·10⁶), exact below 2⁵³ — i.e. volumes to ~10¹⁸
    * tokens), shares are floor-divided ppm of the micro-unit total, and
    * each stratum's keep `rate_ppm` to hit `budgetTokens` reuses the
    * decimal floor division of [[tokenBudgetMixture]] (a stratum under
    * its target keeps everything). One tiny per-stratum aggregate — the
    * corpus itself is never reshuffled; membership for the kept corpus is
    * the usual ppm bucket on the doc key against `rate_ppm`.
    *
    * Output: one row per stratum — (stratum, n_tokens, weight_us,
    * share_ppm, rate_ppm). */
  def temperatureMix(docs: DataFrame, stratum: Column, nTok: Column,
                     budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"negative budget: $budgetTokens")
    val totals = docs
      .select(stratum.as("stratum"), nTok.cast("long").as("_n"))
      .groupBy(col("stratum")).agg(sum(col("_n")).as("n_tokens"))
      .withColumn("weight_us",
        round(sqrt(col("n_tokens").cast("double")) * lit(1e6), 0)
          .cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))  // strata count is tiny; one reducer is fine
    // all-empty corpus: Σweight_us = 0 would make the share division NULL;
    // pin it to a concrete 0 so share_ppm is never silently nullable
    val wsum = sum(col("weight_us")).over(w)
    val share = when(wsum > 0,
      intDiv(col("weight_us").cast("decimal(38,0)") * lit(1000000L), wsum))
      .otherwise(lit(0L))
    val target = intDiv(
      lit(budgetTokens).cast("decimal(38,0)") * col("share_ppm"),
      lit(1000000L))
    val rate = when(col("n_tokens") > 0,
      least(lit(1000000L),
        intDiv(target.cast("decimal(38,0)") * lit(1000000L),
          col("n_tokens")))).otherwise(lit(0L))
    totals
      .withColumn("share_ppm", share)
      .withColumn("rate_ppm", rate)
  }

  /** Deterministic weighted sampling WITHOUT replacement (beyond-parity):
    * the Efraimidis–Spirakis A-Res scheme (IPL 2006) — each row draws
    * u ∈ (0,1) and keys by ln(u)/w; the k LARGEST keys are a weighted
    * sample without replacement. "Random" u is the stable 48-bit md5
    * mapped to (h + 0.5)/2^48 — exactly representable, reproducible, and
    * SQL-recomputable, so the SAMPLE ITSELF is differentially testable
    * (the usual trade: determinism for re-seedability).
    *
    * Scale shape: one scan computing per-row keys, then
    * `orderBy().limit(k)` — TakeOrderedAndProject, per-partition partial
    * top-k, never a global sort. Rows with non-positive weight are
    * excluded (ln(u)/w flips sign — the scheme's own precondition). */
  def weightedSample(docs: DataFrame, idCol: String, weight: Column,
                     k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val h48 = Dedup.Md5Hasher.prefixLong(col(idCol).cast("string"), 12)
    val key = log((h48.cast("double") + 0.5) / lit(4294967296.0 * 65536.0)) /
      weight.cast("double")
    docs
      .filter(weight > 0)
      .withColumn("_key", key)
      .orderBy(col("_key").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), weight.cast("long").as("weight"))
  }

  /** Deterministic contrastive negative sampling (beyond-parity): for each
    * anchor, pick k pseudo-random corpus negatives — the non-positive pairs
    * a contrastive embedding objective (InfoNCE / SimCLR-style) trains
    * against. "Random" is a stable 48-bit md5 of (anchor, candidate), so
    * the draw is reproducible across runs/engines, and an exclusion key
    * (source here; a dedup group id in a full pipeline) keeps trivial
    * near-positives out of the negative pool.
    *
    * Scale shape: the anchor set is small by contract — broadcast over one
    * corpus scan (the brute-force-ANN shape, no corpus shuffle), then the
    * shared salted top-k picks the k smallest hashes per anchor. 48 bits
    * (not the usual 60) because the hash rides the top-k's double-typed
    * score lane: 2^48 < 2^53 stays exact. */
  def contrastiveNegatives(anchors: DataFrame, anchorId: String,
                           anchorKey: String, corpus: DataFrame,
                           corpusId: String, corpusKey: String,
                           k: Int, salts: Int = 64): DataFrame = {
    val a = anchors.select(col(anchorId).as("anchor_id"),
      col(anchorKey).as("_ak"))
    val c = corpus.select(col(corpusId).as("_cid"), col(corpusKey).as("_ck"))
    val h48 = Dedup.Md5Hasher.prefixLong(
      concat(col("anchor_id").cast("string"), lit(":"),
        col("_cid").cast("string")), 12)
    val cand = c.join(broadcast(a),
        col("_cid") =!= col("anchor_id") && col("_ck") =!= col("_ak"))
      .withColumn("sim", -h48.cast("double")) // top-k DESC = smallest hash
    Similarity.topKPerQuery(cand, "anchor_id", "_cid", k, salts)
      .select(col("query_id").as("anchor_id"), col("rank"),
        col("neighbor_id").as("neg_id"))
  }

  /** Max-min-fair ("waterfilling") token-budget allocation across
    * sources — the third mixture policy next to [[tokenBudgetMixture]]
    * (fixed ppm shares) and [[temperatureMix]] (power-law reweighting):
    * spend a total budget B so every source keeps ALL its tokens up to a
    * single uniform cap L, the largest level with Σ min(cᵢ, L) ≤ B. Small
    * sources are never starved by big ones; the head is clipped — the
    * allocation a data-mixture planner wants when "don't let CommonCrawl
    * drown the long tail" is the requirement.
    *
    * The level has a closed form over sources sorted by mass ascending:
    * with inclusive prefix sums P_k, take the largest k where freezing
    * the cap at the k-th smallest mass is affordable
    * (P_k + (n−k)·c_k ≤ B), then L = (B − P_k) div (n−k); if the whole
    * corpus fits, L is the largest mass. All integer arithmetic, so the
    * level and every allocation hash-match any SQL engine.
    *
    * Scale: one corpus-sized token-count aggregation; everything after
    * runs on the |sources|-row frame (window + 1-row folds) — sources
    * number in the hundreds even at 100 TB, so the single-reducer window
    * is reducer-trivial by construction.
    *
    * Output: (source, n_tokens, level_tokens, alloc_tokens, capped)
    * ordered by source; Σ alloc_tokens ≤ B always. */
  def waterfillBudget(docs: DataFrame, sourceCol: String, textCol: String,
                      budget: Long): DataFrame = {
    require(budget >= 0, s"negative budget: $budget")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens").asc, col("source").asc)
    val ranked = docs
      .select(col(sourceCol).as("source"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("_nt"))
      .groupBy(col("source")).agg(sum(col("_nt")).as("n_tokens"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("pref", sum(col("n_tokens")).over(w))
      // |sources| rows with THREE consumers below — materialize once so
      // the corpus-sized token count isn't re-scanned per consumer
      .transform(Frames.truncate)
    val tot = ranked.agg(count(lit(1)).as("n"),
      coalesce(sum(col("n_tokens")), lit(0L)).as("total"),
      coalesce(max(col("n_tokens")), lit(0L)).as("mx"))
    // largest affordable freeze point (k*, P_k*); (0, 0) when even the
    // smallest mass as cap is over budget
    val kstar = ranked.crossJoin(broadcast(tot))
      .filter(col("pref") + (col("n") - col("k")) * col("n_tokens") <=
        lit(budget))
      .agg(max(struct(col("k"), col("pref"))).as("_m"))
      .select(coalesce(col("_m.k"), lit(0L)).as("kstar"),
        coalesce(col("_m.pref"), lit(0L)).as("prefstar"))
    val level = kstar.crossJoin(broadcast(tot))
      .select(when(col("total") <= budget, col("mx"))
        .otherwise(intDiv(lit(budget) - col("prefstar"),
          col("n") - col("kstar"))).as("level_tokens"))
    ranked.crossJoin(broadcast(level))
      .select(col("source"), col("n_tokens"), col("level_tokens"),
        least(col("n_tokens"), col("level_tokens")).as("alloc_tokens"),
        (col("n_tokens") > col("level_tokens")).cast("long").as("capped"))
  }

  /** Greedy MAXIMUM-COVERAGE data selection: pick `k` documents that
    * together cover the most distinct shingles — the submodular-selection
    * baseline behind "choose the most diverse K examples" curation (the
    * classic greedy carries Nemhauser–Wolsey–Fisher '78's (1−1/e)
    * guarantee, and for coverage functions no polynomial algorithm beats
    * it unless P=NP, Feige '98).
    *
    * Exact greedy, k unrolled rounds — the same "aggregate once, iterate
    * with a 1-row argmax" posture as [[Bpe.trainStats]]: the posting
    * (doc, shingle) index is built and persisted ONCE; each round is one
    * anti-join against the covered set (bounded by k·|doc| — broadcast),
    * one doc-keyed count, one 1-row argmax collect. A doc whose shingles
    * are all covered simply vanishes from the gain frame (its anti-join
    * output is empty), so every emitted gain is > 0 and the loop stops
    * early when the corpus is exhausted. Ties break on lowest id — total
    * order, engine-independent. At 100 TB: k linear scans of the posting
    * index; the scale relaxations (CELF lazy evaluation, stochastic
    * greedy (Mirzasoleiman '15) sampling 1/k of the corpus per round)
    * preserve the plan shape and are documented, not needed at audit
    * grain. Returns (step, id, gain) — the selection order with each
    * pick's marginal coverage. */
  def maxCoverSelect(docs: DataFrame, idCol: String, shingleCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = docs.sparkSession
    // distinct: the coverage objective is over DISTINCT shingles — a doc
    // repeating one rare shingle must not outscore a doc covering many
    // (callers with pre-deduped arrays, like wordShingles, pay a no-op)
    val posting = docs
      .select(col(idCol).as("_id"), explode(col(shingleCol)).as("_s"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var covered = posting.select(col("_s")).limit(0)
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Long)]
      var done = false
      var step = 1
      while (step <= k && !done) {
        val top = posting.join(broadcast(covered), Seq("_s"), "left_anti")
          .groupBy("_id").agg(count(lit(1)).as("_gain"))
          .orderBy(col("_gain").desc, col("_id"))
          .limit(1).collect()
        if (top.isEmpty) done = true
        else {
          val (winner, gain) = (top(0).get(0), top(0).getLong(1))
          picks += ((step, winner, gain))
          // the covered set is only consulted by a NEXT round; no distinct
          // needed — the anti-join ignores duplicate covered keys, and the
          // frame stays bounded by the k docs' own shingle lists
          if (step < k)
            covered = Frames.truncate(covered.unionByName(
              posting.filter(col("_id") === lit(winner)).select(col("_s"))))
        }
        step += 1
      }
      picksFrame(spark, picks, idCol,
        posting.select(lit(0).cast("int").as("step"), col("_id").as(idCol),
          lit(0L).as("gain")).limit(0))
    } finally posting.unpersist(false)
  }

  /** A greedy selector's picks as (step, idCol, gain) rows in pick order.
    * `empty` is the type-faithful frame for no picks, so the id column
    * keeps the caller's type. */
  private def picksFrame(spark: org.apache.spark.sql.SparkSession,
                         picks: Iterable[(Int, Any, Long)], idCol: String,
                         empty: => DataFrame): DataFrame =
    picks.map { case (st, id, g) =>
      spark.range(1).select(lit(st).cast("int").as("step"),
        lit(id).as(idCol), lit(g).as("gain"))
    }.reduceOption(_ unionByName _).getOrElse(empty)

  /** GreeDi two-phase DISTRIBUTED greedy max-coverage (Mirzasoleiman,
    * Karbasi, Sarkar & Krause, NeurIPS'13): partition the corpus into
    * `parts` stable md5 buckets, run the greedy independently INSIDE every
    * bucket (phase 1), then run the exact greedy over the ≤ parts·k
    * phase-1 winners (phase 2). Carries GreeDi's 1/min(√k,parts)-factor
    * worst-case guarantee and in practice tracks the centralized greedy
    * closely — this is THE published answer to "greedy is inherently
    * sequential" at corpus scale.
    *
    * Scale shape — the reason this exists beside [[maxCoverSelect]]: the
    * centralized greedy's k rounds each scan the WHOLE posting index,
    * while here phase 1 runs all `parts` greedies SIMULTANEOUSLY — each
    * round is ONE (bucket, doc)-keyed aggregate + ONE m-row per-bucket
    * argmax (min_by over the (−gain, id) struct) for every bucket at
    * once, and the per-round driver state is `parts` winner rows, never
    * per-doc gains (the CELF lazy queue would need exactly that
    * corpus-sized driver state). Phase 2 is [[maxCoverSelect]] on the
    * winner subset — candidate-sized. Output schema and tie order
    * (gain DESC, id ASC) match the centralized operator. */
  def maxCoverSelectGreedi(docs: DataFrame, idCol: String,
                           shingleCol: String, k: Int,
                           parts: Int = 4): DataFrame = {
    require(k >= 1 && parts >= 1, s"k=$k parts=$parts must be >= 1")
    val posting = docs
      .select(col(idCol).as("_id"), explode(col(shingleCol)).as("_s"))
      .distinct()
      .withColumn("_bk", pmod(graft.functions.Dedup.Md5Hasher(
        col("_id").cast("string")), lit(parts.toLong)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var covered = posting.select(col("_bk"), col("_s")).limit(0)
    val winners = scala.collection.mutable.ArrayBuffer.empty[Any]
    var round = 1
    var live = true
    while (round <= k && live) {
      val w = posting
        .join(broadcast(covered), Seq("_bk", "_s"), "left_anti")
        .groupBy(col("_bk"), col("_id")).agg(count(lit(1)).as("_c"))
        .groupBy(col("_bk"))
        .agg(min_by(col("_id"),
          struct((-col("_c")).as("a"), col("_id").as("b"))).as("_w"))
        .select(col("_bk"), col("_w"))
        .collect()
      if (w.isEmpty) live = false
      else {
        winners ++= w.map(_.get(1))
        val wFrame = posting.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            java.util.Arrays.asList(w: _*)),
          org.apache.spark.sql.types.StructType(Seq(
            posting.schema("_bk"),
            posting.schema("_id").copy(name = "_w"))))
        covered = Frames.truncate(covered.unionByName(
          posting.join(broadcast(wFrame),
              posting("_bk") === wFrame("_bk") &&
                posting("_id") === wFrame("_w"))
            .select(posting("_bk"), posting("_s"))))
      }
      round += 1
    }
    posting.unpersist(false)
    val candidates = winners.distinct.toSeq
    if (candidates.isEmpty)
      docs.select(lit(0).cast("int").as("step"), col(idCol),
        lit(0L).as("gain")).limit(0)
    else
      maxCoverSelect(docs.filter(col(idCol).isin(candidates: _*)),
        idCol, shingleCol, k)
  }

  /** CELF lazy-forward greedy max-coverage (Leskovec et al. KDD'07) —
    * OUTPUT-IDENTICAL to [[maxCoverSelect]] (same picks, same gains, same
    * tie order; the spec asserts frame equality), but the per-pick cost
    * drops from one full-corpus aggregate to a handful of tiny re-probes:
    * submodularity makes every stored gain an UPPER BOUND once the
    * covered set grows, so a re-evaluated head that still beats every
    * other bound (and the refill floor) is provably the argmax without
    * touching the rest of the corpus.
    *
    * Driver state is a BOUNDED queue of `queueSize` (id, gain) bounds —
    * NOT the corpus-sized lazy heap of textbook CELF (the reason the
    * GreeDi scaladoc dismissed it): docs outside the queue are covered by
    * the `floor` invariant — at the last full refill they scored ≤ the
    * M-th gain (ties broken to larger ids by the top-M's (gain DESC, id)
    * order), and gains only fall, so while the fresh head stays STRICTLY
    * above the floor nothing outside can win; at a floor tie the queue is
    * refilled (one full aggregate, same job as one [[maxCoverSelect]]
    * round). Stale entries whose bound ties the fresh head re-evaluate in
    * one batched probe before a pick so the lowest-id tie-break is exact.
    *
    * Scale shape: refills are the SAME anti-join + hash-agg + top-M plan
    * as the exact operator's rounds (just top-M instead of top-1); probes
    * are isin-filtered scans of the persisted posting index with a
    * broadcast covered-set anti-join — no shuffle.
    *
    * MEASURED (SCALE.md §round-14, superseding the §round-13 caveat):
    * CELF's condition is
    * LOW INTER-DOCUMENT OVERLAP — picks must not perturb the remaining
    * gains — NOT a heavy-tailed gain distribution, as §round-13
    * hypothesized. On the low-overlap corpus at sf1.0/k=100 the lazy
    * path engages fully (2 refills + 99 bounded probes for 100 picks,
    * probed ids 0.2% of k·corpus) and CELF reads 1.38× over exact; at
    * sf10/k=50 ties force a refill on EVERY pick (refills = k, measured)
    * — parity-to-worse; and on a Zipf-sized-docs fixture with a SHARED
    * shingle universe CELF LOSES outright (0.62×, 59 refills): covering
    * the head removes a uniform fraction of every remaining doc's
    * shingles, all queued bounds stale together, and the fresh head
    * keeps falling below the refill floor. The §round-13 "pays off on
    * heavy-tailed distributions" claim is retracted. On the cached
    * posting CELF is at best 1.38× over [[maxCoverSelect]], and its
    * per-pick probes are separate tiny jobs, so throughput-bound callers
    * gain more from storage than from the lazy queue: the same section
    * measured the exact greedy 2.9× (sf1.0) / 1.35× (sf10) faster off a
    * posting bucketed by id. GreeDi and stochastic-greedy remain the
    * distribution-robust cluster answers; CELF is the
    * exactness-preserving one. */
  def maxCoverSelectCelf(docs: DataFrame, idCol: String, shingleCol: String,
                         k: Int, queueSize: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val m = if (queueSize > 0) queueSize else math.max(4 * k, 64)
    val spark = docs.sparkSession
    val posting = docs
      .select(col(idCol).as("_id"), explode(col(shingleCol)).as("_s"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var covered = posting.select(col("_s")).limit(0)

    // queue of upper bounds, kept sorted (gain DESC, id ASC) on demand.
    // `fresh` = evaluated against the CURRENT covered set.
    final case class Entry(id: Any, gain: Long, fresh: Boolean)
    val queue = scala.collection.mutable.ArrayBuffer.empty[Entry]
    var floor = Long.MaxValue // docs outside the queue score <= floor
    var exhausted = false     // a refill returned nothing: corpus covered

    // the id tie-break must replay the ENGINE's ascending order exactly:
    // numeric ids numerically, strings in unsigned UTF-8 byte order
    // (Spark's UTF8String binary comparison — NOT Java's UTF-16
    // compareTo; they disagree above the BMP). Ids in one call share a
    // runtime type, so cross-type order never arises.
    def idCompare(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long)       => java.lang.Long.compare(x, y)
      case (x: Int, y: Int)         => Integer.compare(x, y)
      case (x: Short, y: Short)     => java.lang.Short.compare(x, y)
      case (x: Byte, y: Byte)       => java.lang.Byte.compare(x, y)
      case (x: Float, y: Float)     => java.lang.Float.compare(x, y)
      case (x: Double, y: Double)   => java.lang.Double.compare(x, y)
      case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
        x.compareTo(y)
      case (x: java.sql.Date, y: java.sql.Date)           => x.compareTo(y)
      case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
      case (x: java.time.LocalDate, y: java.time.LocalDate) =>
        x.compareTo(y)
      case (x: java.time.Instant, y: java.time.Instant)   => x.compareTo(y)
      case (x: String, y: String) =>
        val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val n = math.min(xb.length, yb.length)
        var c = 0
        while (i < n && c == 0) { c = (xb(i) & 0xFF) - (yb(i) & 0xFF); i += 1 }
        if (c != 0) c else xb.length - yb.length
      // no silent String.compareTo fallback: a UTF-16 comparison can
      // disagree with the engine's sort for types not listed above,
      // breaking the output-identical-to-exact-greedy tie-break —
      // failing loudly beats silently returning a differently-ordered
      // selection
      case (x, y) => sys.error(
        s"selectMaxCoverCelf: unsupported id type for tie-break: " +
          s"${x.getClass.getName} vs ${y.getClass.getName}")
    }
    val entryOrd: Ordering[Entry] = new Ordering[Entry] {
      def compare(x: Entry, y: Entry): Int = {
        val g = java.lang.Long.compare(y.gain, x.gain) // gain DESC
        if (g != 0) g else idCompare(x.id, y.id)       // id ASC
      }
    }
    def sortQueue(): Unit = {
      val sorted = queue.sorted(entryOrd)
      queue.clear(); queue ++= sorted
    }
    def gains(frame: DataFrame): DataFrame =
      frame.join(broadcast(covered), Seq("_s"), "left_anti")
        .groupBy("_id").agg(count(lit(1)).as("_gain"))
    def refill(): Unit = {
      queue.clear()
      val top = gains(posting)
        .orderBy(col("_gain").desc, col("_id")).limit(m).collect()
      queue ++= top.map(r => Entry(r.get(0), r.getLong(1), fresh = true))
      floor = if (top.length < m) 0L else top.last.getLong(1)
      if (top.isEmpty) exhausted = true
    }
    def reEval(ids: Seq[Any]): Unit = {
      val got = gains(posting.filter(col("_id").isin(ids: _*)))
        .collect().map(r => r.get(0) -> r.getLong(1)).toMap
      val keep = queue.filterNot(e => ids.contains(e.id)) ++
        ids.flatMap(i => got.get(i).map(g => Entry(i, g, fresh = true)))
      queue.clear(); queue ++= keep // zero-gain docs drop (absent in got)
    }

    try {
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Long)]
      var step = 1
      while (step <= k && !exhausted) {
        var picked: Option[Entry] = None
        var justRefilled = false
        while (picked.isEmpty && !exhausted) {
          if (queue.isEmpty) { refill(); justRefilled = true }
          if (!exhausted) {
            sortQueue()
            val head = queue.head
            if (justRefilled) { picked = Some(head); queue.remove(0) }
            else if (!head.fresh) {
              // batch-probe every stale bound that could still be the
              // argmax: >= the best FRESH gain present, else the HEAD's
              // own bound (the queue max — so the no-fresh state probes
              // only the top tie-group, classic lazy-CELF, not the whole
              // queue; a MinValue bar here re-evaluated all m entries
              // after every pick)
              val fresh = queue.filter(_.fresh)
              val bar = if (fresh.nonEmpty) fresh.map(_.gain).max
                        else head.gain
              reEval(queue.filter(e => !e.fresh && e.gain >= bar)
                .map(_.id).toSeq)
            } else {
              val staleTied =
                queue.exists(e => !e.fresh && e.gain >= head.gain)
              if (staleTied)
                reEval(queue.filter(e => !e.fresh && e.gain >= head.gain)
                  .map(_.id).toSeq)
              else if (head.gain > floor) {
                picked = Some(head); queue.remove(0)
              }
              else queue.clear() // floor tie: force a refill
            }
          }
        }
        picked.foreach { e =>
          picks += ((step, e.id, e.gain))
          if (step < k) {
            covered = Frames.truncate(covered.unionByName(
              posting.filter(col("_id") === lit(e.id)).select(col("_s"))))
            val staled = queue.map(_.copy(fresh = false))
            queue.clear(); queue ++= staled
          }
          step += 1
        }
      }
      picksFrame(spark, picks, idCol,
        posting.select(lit(0).cast("int").as("step"), col("_id").as(idCol),
          lit(0L).as("gain")).limit(0))
    } finally posting.unpersist(false)
  }

  /** STOCHASTIC greedy max-coverage (Mirzasoleiman et al., AAAI'15
    * "Lazier Than Lazy Greedy"): round r evaluates gains over a
    * DETERMINISTIC per-round hash sample of the corpus (salted md5
    * bucket < `samplePct` — replayable cross-engine, unlike an RNG) and
    * picks that sample's argmax. With sample size n/k·ln(1/ε) the
    * expected guarantee is (1 − 1/e − ε); each round costs a
    * sample-sized aggregate instead of a corpus-sized one, so the k
    * sequential jobs shrink by 1/samplePct while keeping the exact
    * operator's plan shape. A round whose sample holds no uncovered doc
    * picks nothing and moves on (the published algorithm's behavior —
    * NOT a fallback full scan, which would silently restore O(nk)).
    * Output schema matches [[maxCoverSelect]]; `step` keeps the round
    * number, so gaps record empty-sample rounds. */
  def maxCoverSelectStochastic(docs: DataFrame, idCol: String,
                               shingleCol: String, k: Int,
                               samplePct: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(samplePct >= 1 && samplePct <= 100, s"bad samplePct $samplePct")
    val spark = docs.sparkSession
    val posting = docs
      .select(col(idCol).as("_id"), explode(col(shingleCol)).as("_s"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var covered = posting.select(col("_s")).limit(0)
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Long)]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Any]
    for (step <- 1 to k) {
      val sampled = posting
        .filter(stableBucket(concat(col("_id").cast("string"),
          lit(s":sg$step"))) < samplePct)
      val pool =
        if (chosen.isEmpty) sampled
        else sampled.filter(!col("_id").isin(chosen.toSeq: _*))
      val top = pool.join(broadcast(covered), Seq("_s"), "left_anti")
        .groupBy("_id").agg(count(lit(1)).as("_gain"))
        .orderBy(col("_gain").desc, col("_id"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (winner, gain) = (top(0).get(0), top(0).getLong(1))
        picks += ((step, winner, gain))
        chosen += winner
        if (step < k)
          covered = Frames.truncate(covered.unionByName(
            posting.filter(col("_id") === lit(winner)).select(col("_s"))))
      }
    }
    posting.unpersist(false)
    picksFrame(spark, picks, idCol,
      docs.select(lit(0).cast("int").as("step"), col(idCol),
        lit(0L).as("gain")).limit(0))
  }
}
