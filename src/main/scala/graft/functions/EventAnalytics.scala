package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Batch event analytics over (user_id, ts, event_type, value) streams:
  * ordered funnels, cohort retention, and gap-filled resampling — the
  * product-analytics layer a warehouse team would expect next to the
  * streaming operators (beyond-parity; the reference has no event data).
  *
  * Time is long MICROSECONDS everywhere (`unix_micros` at the call site):
  * bucket arithmetic is integer subtraction/modulo — exact, ANSI-safe,
  * engine-portable — where date_trunc/timezone functions would not be.
  *
  * Scale shapes: every operator is per-user aggregation + (at most) a
  * re-join of a users-sized frame onto the event stream — the event
  * corpus is never self-joined and never collected. Cohort/funnel frames
  * are |users| rows; AQE picks broadcast when that is small and
  * sort-merge when it is not. */
object EventAnalytics {

  private val HourUs = 3600000000L

  /** Strictly-ordered 3-stage funnel: first `s1` event, then the first
    * `s2` event STRICTLY after it, then the first `s3` strictly after
    * that — per user. ONE scan of the event stream and ONE shuffle on the
    * user key: each stage's first-qualifying timestamp is a whole-
    * partition window minimum that references the previous stage's column
    * (sequential projections over the same window spec share the single
    * exchange), then one row per user survives. The alternative —
    * a filtered aggregation per stage joined back — reads the corpus once
    * PER STAGE, which is the difference between one and four passes at
    * 100 TB.
    *
    * Output: (user_id, s1_us, s2_us, s3_us, stage) — nulls where the
    * funnel broke, stage = how many stages completed (0-3). */
  def funnel(events: DataFrame, userCol: String, tsUs: Column,
             s1: Column, s2: Column, s3: Column): DataFrame = {
    val w = Window.partitionBy("user_id")
    val ev = events.select(col(userCol).as("user_id"), tsUs.as("ts_us"),
      s1.as("_s1"), s2.as("_s2"), s3.as("_s3"))
    ev
      .withColumn("s1_us",
        min(when(col("_s1"), col("ts_us"))).over(w))
      .withColumn("s2_us",
        min(when(col("_s2") && col("ts_us") > col("s1_us"), col("ts_us")))
          .over(w))
      .withColumn("s3_us",
        min(when(col("_s3") && col("ts_us") > col("s2_us"), col("ts_us")))
          .over(w))
      .groupBy("user_id")
      .agg(min(col("s1_us")).as("s1_us"), min(col("s2_us")).as("s2_us"),
        min(col("s3_us")).as("s3_us"))
      .withColumn("stage",
        when(col("s3_us").isNotNull, 3L)
          .when(col("s2_us").isNotNull, 2L)
          .when(col("s1_us").isNotNull, 1L)
          .otherwise(0L))
  }

  /** Cohort retention: cohort = the user's first-ever activity bucket
    * (floor to `bucketUs`), offset = whole buckets since the cohort
    * bucket; counts DISTINCT users per (cohort, offset). Two shuffles:
    * first-seen per user, then the distinct-count — the cohort map joins
    * back onto the activity stream by user key.
    *
    * Output: (cohort_us, bucket_offset, n_users). */
  def retention(events: DataFrame, userCol: String, tsUs: Column,
                bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"bad bucketUs: $bucketUs")
    val act = events.select(col(userCol).as("user_id"),
      (tsUs - pmod(tsUs, lit(bucketUs))).as("bucket_us"))
    val cohort = act.groupBy("user_id")
      .agg(min(col("bucket_us")).as("cohort_us"))
    act.join(cohort, "user_id")
      .select(col("cohort_us"),
        ((col("bucket_us") - col("cohort_us")) / lit(bucketUs))
          .cast("long").as("bucket_offset"),
        col("user_id"))
      .groupBy("cohort_us", "bucket_offset")
      .agg(count_distinct(col("user_id")).as("n_users"))
  }

  /** Trailing-window spike detection with an INTEGER-EXACT z-test: per
    * (series, bucket), flag counts that sit more than `z` trailing
    * standard deviations above the trailing mean — without ever computing
    * a mean or a standard deviation in floating point. The test
    *
    *   (x − μ)² > z²σ²  with  μ = Σ/n, σ² = (nΣx² − Σ²)/n²
    *
    * clears denominators to `(n·x − Σ)² > z²·(n·Σx² − Σ²)` — every term an
    * exact integer (DECIMAL(38,0) headroom), so the flag is bit-identical
    * across engines and partitionings, the same philosophy as PageRank's
    * u12 rounds. The trailing window is the last `lookback` OBSERVED
    * buckets (rows-based frame — declared semantics; gap-fill first with
    * [[resampleHourly]] if calendar-based trailing windows are wanted).
    *
    * One shuffle (bucket counts) + one per-series sort. Output: every
    * (series, bucket) row with its trailing stats and `is_spike` 0/1
    * (rows with fewer than `minBase` trailing buckets never flag). */
  def spikeFlags(events: DataFrame, seriesCol: String, tsUs: Column,
                 bucketUs: Long, lookback: Int, z: Int,
                 minBase: Int): DataFrame = {
    require(bucketUs > 0 && lookback > 0 && z > 0 && minBase > 0,
      s"bad params bucketUs=$bucketUs lookback=$lookback z=$z minBase=$minBase")
    val counts = events
      .select(col(seriesCol).as("series"),
        (tsUs - pmod(tsUs, lit(bucketUs))).as("bucket_us"))
      .groupBy("series", "bucket_us").agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("series").orderBy("bucket_us")
      .rowsBetween(-lookback, -1)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    counts
      .withColumn("base_n", count(col("n_events")).over(w))
      .withColumn("base_sum", sum(col("n_events")).over(w))
      .withColumn("base_sumsq",
        sum(dec(col("n_events")) * col("n_events")).over(w))
      .withColumn("is_spike",
        (col("base_n") >= minBase &&
          dec(col("base_n")) * col("n_events") > dec(col("base_sum")) &&
          (dec(col("base_n")) * col("n_events") - col("base_sum")) *
            (dec(col("base_n")) * col("n_events") - col("base_sum")) >
            lit(z.toLong * z) * (dec(col("base_n")) * col("base_sumsq") -
              dec(col("base_sum")) * col("base_sum")))
          .cast("long"))
      .select(col("series"), col("bucket_us"), col("n_events"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        coalesce(col("base_sum"), lit(0L)).as("base_sum"),
        col("is_spike"))
  }

  /** Gap-filled hourly resample: per user, one row per hour from the
    * user's first to last activity hour — observed hours carry exact
    * decimal aggregates, missing hours are zero-filled, and `ffill_avg`
    * carries the last OBSERVED hourly mean forward (the standard
    * time-series imputation). The hour spine is GENERATED per user from
    * the (min, max) aggregate — |users| sequence expressions, distributed,
    * never a driver-side calendar.
    *
    * Output: (user_id, hour_us, n_events, sum_value, ffill_avg) with
    * sum_value/ffill_avg as exact decimals (callers cast for display). */
  def resampleHourly(events: DataFrame, userCol: String, tsUs: Column,
                     value: Column): DataFrame = {
    val ev = events.select(col(userCol).as("user_id"), tsUs.as("ts_us"),
      value.cast(DecimalType(18, 6)).as("_v"))
      .withColumn("hour_us", col("ts_us") - pmod(col("ts_us"), lit(HourUs)))
    val hourly = ev.groupBy("user_id", "hour_us")
      .agg(count(lit(1)).as("n_events"),
        sum(col("_v")).as("sum_value"))
    val spine = hourly.groupBy("user_id")
      .agg(min(col("hour_us")).as("_lo"), max(col("hour_us")).as("_hi"))
      .select(col("user_id"),
        explode(sequence(col("_lo"), col("_hi"), lit(HourUs)))
          .as("hour_us"))
    val w = Window.partitionBy("user_id").orderBy("hour_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the mean forward-fills as (carried exact sum) / (carried count), one
    // fp division at the end: both operands are exact in both engines, so
    // the IEEE quotient is bit-identical — an avg() aggregate would not be
    // (engines disagree on avg(DECIMAL) result types)
    spine.join(hourly, Seq("user_id", "hour_us"), "left")
      .withColumn("_fs", last(col("sum_value"), ignoreNulls = true).over(w))
      .withColumn("_fn", last(col("n_events"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("hour_us"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"),
          lit(0).cast(DecimalType(18, 6))).as("sum_value"),
        // the spine starts at an observed hour, so _fn is never null
        (col("_fs").cast("double") / col("_fn")).as("ffill_avg"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation
    * (beyond-parity): per-user metrics scored into quintiles by EXACT
    * type-1 quantile thresholds, instead of a global `ntile`, which would
    * both funnel every user through one window reducer AND split tied
    * users arbitrarily. Here ties share a bucket (score = 1 + #thresholds
    * strictly below).
    *
    * All three metrics are exact integers (µs recency, purchase count,
    * µ-unit monetary from the DECIMAL sum), so the quintile cuts come
    * from [[Profile.exactQuantileValues]] — the sort-free value-domain
    * bisection, all 12 (metric, quantile) brackets searched in lock-step
    * over ONE persisted 3-long-column projection of the per-user frame.
    * The thresholds fold into the scoring CASE as LITERALS: no
    * `percentile` single-buffer sort anywhere, and the only data-sized
    * shuffle is the per-user collapse — the oracle-checked plan is the
    * 100 TB plan. */
  def rfmSegments(events: DataFrame, userId: String, tsUs: Column,
                  value: Column, isPurchase: Column): DataFrame = {
    val perUser = events.groupBy(col(userId).as("user_id"))
      .agg(max(tsUs).cast("long").as("_rec"),
        sum(isPurchase.cast("long")).as("_freq"),
        (sum(when(isPurchase, value).otherwise(lit(0.0))
          .cast(DecimalType(18, 6))) * lit(1000000)).cast("long").as("_mon"))
    val qs = Seq(200000L, 400000L, 600000L, 800000L)
    val th = Profile.exactQuantileValues(
      perUser, Seq("_rec", "_freq", "_mon"), qs)
    def score(m: Column, c: String): Column =
      qs.map(q => (m > th((c, q))).cast("long"))
        .foldLeft(lit(1L))(_ + _)
    perUser
      .withColumn("r_score", score(col("_rec"), "_rec"))
      .withColumn("f_score", score(col("_freq"), "_freq"))
      .withColumn("m_score", score(col("_mon"), "_mon"))
      .select(col("user_id"), col("r_score"), col("f_score"), col("m_score"),
        concat_ws("-", col("r_score"), col("f_score"), col("m_score"))
          .as("segment"))
  }

  /** First-order Markov transition estimates over per-user event journeys
    * (beyond-parity): count (previous type → next type) steps with one
    * per-user lag window, then report each transition's probability as
    * exact integer ppm of its source-state row total. The |types|²-sized
    * output is the input to journey simulation, anomaly scoring ("this
    * step had ppm≈0 mass"), and next-event prediction baselines.
    *
    * One shuffle on the user key (the lag window; per-user sort bounded by
    * that user's event count), one |types|²-bounded aggregation, and a
    * broadcast of per-source totals. Ties in timestamps order by event id
    * so the step sequence is total in both engines. */
  def transitionMatrix(events: DataFrame, userId: String, eventId: String,
                       typeCol: String, tsUs: Column): DataFrame = {
    val w = Window.partitionBy(col(userId))
      .orderBy(tsUs.asc, col(eventId).asc)
    val steps = events
      .withColumn("_prev", lag(col(typeCol), 1).over(w))
      .filter(col("_prev").isNotNull)
      .groupBy(col("_prev").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n_steps"))
    val totals = steps.groupBy(col("from_type"))
      .agg(sum(col("n_steps")).as("_tot"))
    steps.join(broadcast(totals), Seq("from_type"))
      .withColumn("prob_ppm", expr("(1000000L * n_steps) div _tot"))
      .select(col("from_type"), col("to_type"), col("n_steps"),
        col("prob_ppm"))
  }

  /** Linear multi-touch attribution (beyond-parity): every conversion's
    * credit splits equally across the touches that preceded it inside the
    * window, in EXACT integer ppm — each touch gets ⌊10⁶/n⌋ and the last
    * touch (latest, id tie-break) absorbs the remainder, so per-conversion
    * credit sums to exactly 10⁶ and corpus-wide credit is conservation-
    * checked arithmetic, not fp residue.
    *
    * Scale shape: the touch↔conversion pairing is the bounded
    * [[graft.operators.TemporalJoin.intervalJoin]] (bucketed equi-join,
    * replication-capped); the per-conversion windows run over one
    * conversion's touches only (bounded by window width × touch rate);
    * final credit totals are one hash aggregation per touch. */
  /** Deterministic A/B experiment readout (beyond-parity): users assign to
    * arms by the stable md5 bucket (`Sampling.stableBucket` — the same
    * hash both engines recompute), so assignment is reproducible, uniform,
    * and needs no stored assignment table; per-arm conversion is exact
    * integer ppm. Two aggregations total (per-user collapse, then per-arm
    * rollup) — the per-user frame is the only shuffle that scales with
    * data, and it is the minimal one (any experiment readout must
    * deduplicate users before counting). */
  def abMetrics(events: DataFrame, userId: String, converted: Column,
                arms: Int): DataFrame = {
    require(arms >= 2, "an experiment needs at least two arms")
    val perUser = events.groupBy(col(userId).as("_user"))
      .agg(max(converted.cast("long")).as("_conv"),
        count(lit(1)).as("_n"))
    perUser
      .withColumn("arm", Sampling.stableBucket(col("_user"), arms))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("_conv")).as("n_converters"),
        sum(col("_n")).as("n_events"))
      .withColumn("conv_ppm",
        expr("(1000000L * n_converters) div n_users"))
  }

  /** CUPED-adjusted A/B metrics (Deng et al. WSDM 2013 — variance
    * reduction with pre-experiment / surrogate covariates): per user,
    * covariate X = µ-value under `xCond`, outcome Y = µ-value under
    * `yCond`; θ = cov(X,Y)/var(X) pooled over ALL users, and each arm
    * reports its raw and adjusted outcome mean — adjusted mean =
    * ȳ_arm − θ·(x̄_arm − x̄). Unbiased because arm assignment (the
    * stable hash bucket) is independent of X.
    *
    * Engine-exactness discipline: every sum is an exact DECIMAL over
    * µ-floored integers; θ, the means and the adjustment are then a
    * FIXED expression tree of IEEE divisions over those exact sums, so
    * both engines compose bit-identical doubles and the final µ-floors
    * cannot straddle (the MMR floor lesson). Two aggregations over one
    * persisted per-user frame + a broadcast of the 1-row pooled stats —
    * no extra shuffle at any scale. Degenerate var(X) = 0 ⇒ θ = 0 (the
    * adjustment vanishes instead of dividing by zero).
    * Output: (arm, n_users, mean_y_us, adj_mean_y_us). */
  def cupedAbMetrics(events: DataFrame, userId: String, xCond: Column,
                     yCond: Column, value: Column, arms: Int): DataFrame = {
    require(arms >= 2, "an experiment needs at least two arms")
    val vUs = floor(value * lit(1000000d)).cast("decimal(18,0)")
    val zero = lit(0).cast("decimal(18,0)")
    val perUser = events.groupBy(col(userId).as("_user"))
      .agg(coalesce(sum(when(xCond, vUs)), zero).as("_x"),
        coalesce(sum(when(yCond, vUs)), zero).as("_y"))
      .withColumn("arm", Sampling.stableBucket(col("_user"), arms))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pooled = perUser.agg(
      count(lit(1)).cast("double").as("_n"),
      sum(col("_x")).cast("double").as("_sx"),
      sum(col("_y")).cast("double").as("_sy"),
      sum(col("_x") * col("_y")).cast("double").as("_sxy"),
      sum(col("_x") * col("_x")).cast("double").as("_sxx"))
    val th = pooled.select(
      when(col("_sxx") - col("_sx") * col("_sx") / col("_n") > 0,
        (col("_sxy") - col("_sx") * col("_sy") / col("_n")) /
          (col("_sxx") - col("_sx") * col("_sx") / col("_n")))
        .otherwise(lit(0d)).as("_theta"),
      (col("_sx") / col("_n")).as("_xbar"))
    val out = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("_x")).cast("double").as("_asx"),
        sum(col("_y")).cast("double").as("_asy"))
      .crossJoin(broadcast(th))
      .select(col("arm"), col("n_users"),
        floor(col("_asy") / col("n_users")).cast("long").as("mean_y_us"),
        floor(col("_asy") / col("n_users") -
          col("_theta") * (col("_asx") / col("n_users") - col("_xbar")))
          .cast("long").as("adj_mean_y_us"))
    // seal + release: the per-user frame must not outlive the query
    // (the session-accumulation lesson behind Frames.sealRelease)
    graft.functions.Frames.sealRelease(out, perUser)
  }

  def linearAttribution(touches: DataFrame, touchId: String,
                        conversions: DataFrame, convId: String,
                        key: String, touchUs: String, convUs: String,
                        windowUs: Long): DataFrame = {
    val joined = graft.operators.TemporalJoin.intervalJoin(
      touches, conversions, key, touchUs, convUs,
      lowerUs = 0L, upperUs = windowUs)
    val wc = Window.partitionBy(col(convId))
    val wLast = Window.partitionBy(col(convId))
      .orderBy(col(touchUs).desc, col(touchId).desc)
    joined
      .withColumn("_n", count(lit(1)).over(wc))
      .withColumn("_rk", row_number().over(wLast))
      .withColumn("_credit",
        expr("1000000L div _n") +
          when(col("_rk") === 1, expr("1000000L % _n")).otherwise(lit(0L)))
      .groupBy(col(touchId))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("_credit")).as("credit_ppm"))
  }

  /** Top-k session journey paths: gap-based sessionization, each
    * session's first `maxLen` event types joined into a `a>b>c` path
    * string, sessions counted per path, top `topK` paths by
    * (count DESC, path ASC) — the "what do users actually do" report.
    *
    * Determinism: the per-session order is (ts, event_id) — a total
    * order, so simultaneous events cannot flap the path string; the
    * final ranking ties break on the path itself.
    *
    * Scale: two user-partitioned windows (sessionize + step rank) ride
    * ONE shuffle by user; the per-session path aggregation collects at
    * most `maxLen` elements per group (bounded buffer, not a whole
    * session); the global top-k is orderBy+limit — per-partition partial
    * top-k then a k-sized merge (TakeOrderedAndProject), no full sort. */
  def topPaths(events: DataFrame, userId: String, tsUs: Column,
               eventId: String, typeCol: String, gapUs: Long, maxLen: Int,
               topK: Int): DataFrame = {
    require(gapUs > 0 && maxLen >= 1 && topK >= 1, "bad params")
    val sess = events
      .select(col(userId).as("_u"), tsUs.as("_ts"), col(eventId).as("_eid"),
        col(typeCol).as("_ty"))
      .withColumn("_prev",
        lag(col("_ts"), 1).over(Window.partitionBy(col("_u"))
          .orderBy(col("_ts"), col("_eid"))))
      .withColumn("_new",
        (col("_prev").isNull || col("_ts") - col("_prev") > gapUs)
          .cast("long"))
      .withColumn("_sid", sum(col("_new")).over(Window.partitionBy(col("_u"))
        .orderBy(col("_ts"), col("_eid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val steps = sess
      .withColumn("_rk", row_number().over(Window
        .partitionBy(col("_u"), col("_sid"))
        .orderBy(col("_ts"), col("_eid"))))
      .filter(col("_rk") <= maxLen)
    val paths = steps.groupBy(col("_u"), col("_sid"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("_rk"), col("_ty").as("ty")))),
        x => x.getField("ty")), ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path").asc)))
      .select(col("rank"), col("path"), col("n_sessions"))
  }

  /** Per-user exponentially-decayed engagement score — the recency-
    * weighted activity signal behind churn triage and re-engagement
    * targeting. Each event contributes `weight·2^(−age)` where age is
    * whole half-lives between the event and the corpus high-water mark;
    * the decay is a RIGHT SHIFT of an integer ppm weight (floor(w/2^age)),
    * so every contribution and the per-user sum are integer-exact,
    * order-independent, and identical in any engine — no libm pow(), no
    * fp accumulation. Ages ≥ 63 half-lives contribute exactly 0 (guarded:
    * a 64-bit shift is undefined/overflowing in SQL engines, and the true
    * value underflows to 0 anyway).
    *
    * The reference instant is the data's own max timestamp (broadcast
    * single-row cross join), so re-runs over the same snapshot are
    * idempotent — wall-clock "now" would change results between retries.
    * One scan + one groupBy(user): partial aggregation collapses each
    * task to its distinct users. */
  def decayScores(events: DataFrame, userId: String, tsUs: Column,
                  typeCol: String, weightsPpm: Seq[(String, Long)],
                  halfLifeUs: Long): DataFrame = {
    require(halfLifeUs > 0, s"bad half-life: $halfLifeUs")
    require(weightsPpm.nonEmpty, "no weights")
    val w = weightsPpm.foldLeft(lit(0L)) { case (acc, (ty, ppm)) =>
      when(col(typeCol) === ty, lit(ppm)).otherwise(acc)
    }
    val ev = events.select(col(userId).as("user_id"), tsUs.as("_ts_us"),
      w.as("_w"))
    val ref = ev.agg(max(col("_ts_us")).as("_ref_us"))
    ev.crossJoin(broadcast(ref))
      .withColumn("_age_hl",
        expr(s"(_ref_us - _ts_us) div ${halfLifeUs}L"))
      .withColumn("_contrib",
        when(col("_age_hl") < 63,
          expr("shiftright(_w, cast(_age_hl AS INT))")).otherwise(lit(0L)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("_contrib")).as("score_ppm"),
        min(col("_age_hl")).as("last_age_hl"))
  }

  /** DAU / trailing-7-day WAU / stickiness per active day — the product
    * health metric, exact and engine-reproducible: stickiness is the
    * floor-ppm ratio DAU/WAU (bounded by 10⁶ when every weekly user shows
    * up daily). The trailing week is computed WITHOUT a distinct-over-
    * range window (which Spark cannot partial-aggregate): each (day,
    * user) activity row fans out to the ≤ 7 future days whose window it
    * falls in, then one distinct per target day — shuffle volume is
    * 7 × |user-days|, never |events|. Days with no activity produce no
    * row (declared: the report covers ACTIVE days). */
  def stickiness(events: DataFrame, userId: String,
                 day: Column): DataFrame = {
    val userDay = events.select(day.as("day"), col(userId).as("u"))
      .distinct()
    val dau = userDay.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = userDay
      .select(explode(sequence(lit(0), lit(6))).as("_o"), col("day"),
        col("u"))
      .select(date_add(col("day"), col("_o")).as("day"), col("u"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        Sampling.intDiv(col("dau").cast("decimal(38,0)") * lit(1000000L),
          col("wau").cast("decimal(38,0)")).as("stickiness_ppm"))
  }
}
