package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._
import graft.streaming.EventStream
import Shared._

/** Event-log analytics and the streaming queries: `events_`. */
object EventQueries {

  /** Literals a query and its oracle share (the never-drift rule of
    * [[QuerySpec]]): a pair that disagrees only surfaces as a hash
    * mismatch at gate time, with no hint of the cause. */
  private val attribWindowUs = 45L * 60 * 1000000 // events_multitouch
  private val cohortWeekUs = 7L * 86400000000L    // events_cohort_ltv
  private val decayHalfLifeUs = 86400000000L      // events_decay (1 day)
  private val pathGapUs = 1800000000L             // events_paths (30 min)
  private val pathMaxLen = 5
  private val pathTopK = 20
  private val decayWeights = Seq(                 // ppm at age 0
    "purchase" -> 1000000L, "signup" -> 500000L, "click" -> 100000L,
    "view" -> 10000L, "error" -> 0L)
  private val topTypesK = 3                       // events_top_types

  val all: Seq[QuerySpec] = Seq(
    // RFM segmentation: threshold quintiles are exact type-1 quantiles
    // from the sort-free lock-step bisection over the integer metrics —
    // no percentile aggregate, no global ntile window; ties share buckets
    QuerySpec("events_rfm", (s, dir) =>
      EventAnalytics.rfmSegments(events(s, dir), "user_id",
        unix_micros(col("ts")), col("value"),
        col("event_type") === "purchase"),
      // RFM: quintile thresholds are type-1 order statistics (k = ⌈q·n⌉,
      // materialized by rank — the engine bisects to the same value) over
      // the exact-integer metrics; scores = 1 + #thresholds strictly below
      """WITH u AS (SELECT user_id,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS rec,
        |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS freq,
        |  CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
        |           AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS mon
        |  FROM events GROUP BY user_id),
        |nn AS (SELECT count(*) AS n FROM u),
        |q(q_ppm) AS (VALUES (200000), (400000), (600000), (800000)),
        |kk AS (SELECT q_ppm, greatest(1, (q_ppm * n + 999999) // 1000000) AS k FROM q, nn),
        |rr AS (SELECT rec AS v, row_number() OVER (ORDER BY rec) AS rn FROM u),
        |rf AS (SELECT freq AS v, row_number() OVER (ORDER BY freq) AS rn FROM u),
        |rm AS (SELECT mon AS v, row_number() OVER (ORDER BY mon) AS rn FROM u),
        |t AS (SELECT
        |  max(CASE WHEN q_ppm = 200000 THEN rr.v END) AS r0,
        |  max(CASE WHEN q_ppm = 400000 THEN rr.v END) AS r1,
        |  max(CASE WHEN q_ppm = 600000 THEN rr.v END) AS r2,
        |  max(CASE WHEN q_ppm = 800000 THEN rr.v END) AS r3,
        |  max(CASE WHEN q_ppm = 200000 THEN rf.v END) AS f0,
        |  max(CASE WHEN q_ppm = 400000 THEN rf.v END) AS f1,
        |  max(CASE WHEN q_ppm = 600000 THEN rf.v END) AS f2,
        |  max(CASE WHEN q_ppm = 800000 THEN rf.v END) AS f3,
        |  max(CASE WHEN q_ppm = 200000 THEN rm.v END) AS m0,
        |  max(CASE WHEN q_ppm = 400000 THEN rm.v END) AS m1,
        |  max(CASE WHEN q_ppm = 600000 THEN rm.v END) AS m2,
        |  max(CASE WHEN q_ppm = 800000 THEN rm.v END) AS m3
        |  FROM kk JOIN rr ON rr.rn = kk.k JOIN rf ON rf.rn = kk.k
        |          JOIN rm ON rm.rn = kk.k)
        |SELECT user_id,
        |  1 + (rec > r0)::BIGINT + (rec > r1)::BIGINT + (rec > r2)::BIGINT + (rec > r3)::BIGINT AS r_score,
        |  1 + (freq > f0)::BIGINT + (freq > f1)::BIGINT + (freq > f2)::BIGINT + (freq > f3)::BIGINT AS f_score,
        |  1 + (mon > m0)::BIGINT + (mon > m1)::BIGINT + (mon > m2)::BIGINT + (mon > m3)::BIGINT AS m_score,
        |  (1 + (rec > r0)::BIGINT + (rec > r1)::BIGINT + (rec > r2)::BIGINT + (rec > r3)::BIGINT)::VARCHAR
        |   || '-' || (1 + (freq > f0)::BIGINT + (freq > f1)::BIGINT + (freq > f2)::BIGINT + (freq > f3)::BIGINT)::VARCHAR
        |   || '-' || (1 + (mon > m0)::BIGINT + (mon > m1)::BIGINT + (mon > m2)::BIGINT + (mon > m3)::BIGINT)::VARCHAR AS segment
        |FROM u CROSS JOIN t""".stripMargin),

    // first-order Markov transition matrix over user journeys: one lag
    // window + a |types|²-bounded agg, probabilities in exact ppm
    QuerySpec("events_transitions", (s, dir) =>
      EventAnalytics.transitionMatrix(events(s, dir), "user_id",
        "event_id", "event_type", unix_micros(col("ts"))),
      """WITH s AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev AS from_type, event_type AS to_type,
        |      count(*) AS n_steps FROM s WHERE prev IS NOT NULL
        |      GROUP BY prev, event_type),
        |t AS (SELECT from_type, CAST(sum(n_steps) AS BIGINT) AS tot
        |      FROM c GROUP BY from_type)
        |SELECT from_type, to_type, n_steps,
        |  (1000000 * n_steps) // tot AS prob_ppm
        |FROM c JOIN t USING (from_type)""".stripMargin),

    // deterministic A/B readout: stable-bucket arm assignment (no stored
    // assignment table), per-arm exact-ppm conversion
    QuerySpec("events_ab_metrics", (s, dir) =>
      EventAnalytics.abMetrics(events(s, dir), "user_id",
        col("event_type") === "purchase", arms = 2),
      """WITH u AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |  count(*) AS n FROM events GROUP BY user_id),
        |a AS (SELECT ('0x' || substring(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2 AS arm,
        |      conv, n FROM u)
        |SELECT arm, count(*) AS n_users, CAST(sum(conv) AS BIGINT) AS n_converters,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  (1000000 * CAST(sum(conv) AS BIGINT)) // count(*) AS conv_ppm
        |FROM a GROUP BY arm""".stripMargin),

    // CUPED variance reduction (Deng et al. 2013): view spend as the
    // surrogate covariate for purchase spend — exact decimal sums, one
    // fixed IEEE expression tree for θ/means, broadcast pooled stats
    QuerySpec("events_ab_cuped", (s, dir) =>
      EventAnalytics.cupedAbMetrics(events(s, dir), "user_id",
        col("event_type") === "view", col("event_type") === "purchase",
        col("value"), arms = 2),
      // CUPED: identical exact decimal sums, identical IEEE expression
      // tree for theta / means, identical final floors
      """WITH pu AS (SELECT user_id,
        |  COALESCE(sum(CASE WHEN event_type = 'view' THEN CAST(floor(value * 1000000) AS DECIMAL(18,0)) END), 0) AS x,
        |  COALESCE(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(value * 1000000) AS DECIMAL(18,0)) END), 0) AS y,
        |  ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
        |  FROM events GROUP BY user_id),
        |g AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(x) AS DOUBLE) AS sx,
        |  CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x * y) AS DOUBLE) AS sxy,
        |  CAST(sum(x * x) AS DOUBLE) AS sxx FROM pu),
        |th AS (SELECT CASE WHEN sxx - sx * sx / n > 0
        |  THEN (sxy - sx * sy / n) / (sxx - sx * sx / n) ELSE 0 END AS theta,
        |  sx / n AS xbar FROM g),
        |a AS (SELECT arm, count(*) AS n_users, CAST(sum(x) AS DOUBLE) AS asx,
        |  CAST(sum(y) AS DOUBLE) AS asy FROM pu GROUP BY arm)
        |SELECT arm, n_users,
        |  CAST(floor(asy / n_users) AS BIGINT) AS mean_y_us,
        |  CAST(floor(asy / n_users - theta * (asx / n_users - xbar)) AS BIGINT) AS adj_mean_y_us
        |FROM a, th""".stripMargin),

    // top session journeys: 30-min-gap sessionization → first-5-step
    // path strings → session counts → TakeOrderedAndProject top-20;
    // both windows ride one user-keyed shuffle, total (ts, id) order
    QuerySpec("events_paths", (s, dir) =>
      EventAnalytics.topPaths(events(s, dir), "user_id",
        unix_micros(col("ts")), "event_id", "event_type",
        gapUs = pathGapUs, maxLen = pathMaxLen, topK = pathTopK),
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |           FROM events),
        |s1 AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |         OR ts_us - lag(ts_us) OVER w > $pathGapUs THEN 1 ELSE 0 END AS is_new
        |       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s2 AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |         ROWS UNBOUNDED PRECEDING) AS sid FROM s1),
        |st AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid
        |         ORDER BY ts_us, event_id) AS rk FROM s2),
        |p AS (SELECT user_id, sid,
        |        string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        |      FROM st WHERE rk <= $pathMaxLen GROUP BY user_id, sid),
        |c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY path
        |      ORDER BY n_sessions DESC, path LIMIT $pathTopK)
        |SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INTEGER) AS rank,
        |  path, n_sessions FROM c""".stripMargin),

    // recency-weighted engagement: weight·2^-(age in half-lives) per
    // event as an integer right-shift — exact, order-free, no libm pow;
    // reference instant = the snapshot's own high-water mark (idempotent)
    QuerySpec("events_decay", (s, dir) =>
      EventAnalytics.decayScores(events(s, dir), "user_id",
        unix_micros(col("ts")), "event_type", decayWeights,
        decayHalfLifeUs),
      // the decay is a literal right shift of the same ppm weight table;
      // parenthesized (DuckDB >> binds below =) and 63-guarded both sides
      (s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |  CASE ${decayWeights.map { case (ty, p) => s"WHEN event_type = '$ty' THEN ${p}" }.mkString(" ")}
        |       ELSE 0 END AS w FROM events),
        |r AS (SELECT max(ts_us) AS ref_us FROM e),
        |c AS (SELECT user_id, w, (r.ref_us - ts_us) // $decayHalfLifeUs AS age_hl
        |      FROM e, r)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN age_hl < 63 THEN (w >> age_hl) ELSE 0 END) AS BIGINT) AS score_ppm,
        |  min(age_hl) AS last_age_hl
        |FROM c GROUP BY user_id""").stripMargin),

    // linear multi-touch attribution: per-conversion credit splits in
    // exact integer ppm over the bounded interval join; remainder to the
    // last touch so every conversion sums to exactly 10^6
    QuerySpec("events_multitouch", (s, dir) => {
      val ev = events(s, dir)
      EventAnalytics.linearAttribution(
        ev.filter(col("event_type") === "click")
          .select(col("event_id").as("touch_id"), col("user_id"),
            unix_micros(col("ts")).as("touch_us")),
        "touch_id",
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("conv_id"), col("user_id"),
            unix_micros(col("ts")).as("conv_us")),
        "conv_id", "user_id", "touch_us", "conv_us",
        windowUs = attribWindowUs)
    },
      s"""WITH c AS (SELECT event_id AS touch_id, user_id, epoch_us(ts) AS tus
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS conv_id, user_id, epoch_us(ts) AS pus
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.touch_id, p.conv_id, c.tus FROM c JOIN p
        |      ON c.user_id = p.user_id AND p.pus >= c.tus
        |      AND p.pus <= c.tus + $attribWindowUs),
        |n AS (SELECT *, count(*) OVER (PARTITION BY conv_id) AS n,
        |      row_number() OVER (PARTITION BY conv_id
        |        ORDER BY tus DESC, touch_id DESC) AS rk FROM j)
        |SELECT touch_id, count(*) AS n_conversions,
        |  CAST(sum(1000000 // n + CASE WHEN rk = 1 THEN 1000000 % n ELSE 0 END)
        |       AS BIGINT) AS credit_ppm
        |FROM n GROUP BY touch_id""".stripMargin),

    // day-over-day event-volume delta: lag over the DAYS frame (calendar-
    // bounded, not data-bounded — the one safe global-window case)
    QuerySpec("events_daily_delta", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      daily
        .withColumn("delta",
          coalesce(col("n_events") - lag(col("n_events"), 1).over(w),
            lit(0L)))
    },
      ("WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "count(*) AS n_events FROM events GROUP BY 1) " +
        "SELECT day, n_events, COALESCE(n_events - lag(n_events, 1) " +
        "OVER (ORDER BY day), 0) AS delta FROM d")),

    // per-user inter-arrival BURSTINESS histogram: CV² of event gaps in
    // exact floor-ppm ((nΣx²−Σ²) over Σ², all DECIMAL), log₂-bucketed —
    // low CV² ≈ metronomic (bots/schedulers), high ≈ bursty humans; the
    // gap multiset is order-stable under equal timestamps, so the report
    // is engine-exact. One window + two bounded aggregates.
    QuerySpec("events_burstiness", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("_us"), col("event_id"))
      val gaps = events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("_us"))
        .withColumn("gap", col("_us") - lag(col("_us"), 1).over(w))
        .filter(col("gap").isNotNull)
      val dec = col("gap").cast("decimal(38,0)")
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(dec).as("sx"),
          sum(dec * col("gap")).as("sxx"))
        .filter(col("n") >= 2 && col("sx") > 0)
        .select(Sampling.intDivExact(
          (col("n") * col("sxx") - col("sx") * col("sx")) * lit(1000000L),
          col("sx") * col("sx")).as("cv2_ppm"))
        .groupBy(length(bin(col("cv2_ppm"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_users"),
          min(col("cv2_ppm")).as("min_cv2_ppm"),
          max(col("cv2_ppm")).as("max_cv2_ppm"))
    },
      // CV² in exact integer ppm; nΣx²−Σ² and Σ² both ride HUGEINT (gap
      // sums exceed BIGINT² range); all operands non-negative so `//` ≡
      // the engine's floor
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
        "g AS (SELECT user_id, us - lag(us) OVER " +
        "(PARTITION BY user_id ORDER BY us, event_id) AS gap FROM e), " +
        "st AS (SELECT user_id, count(*) AS n, " +
        "sum(CAST(gap AS HUGEINT)) AS sx, " +
        "sum(CAST(gap AS HUGEINT) * gap) AS sxx FROM g " +
        "WHERE gap IS NOT NULL GROUP BY 1), " +
        "cv AS (SELECT CAST(((n * sxx - sx * sx) * 1000000) // (sx * sx) AS BIGINT) AS cv2_ppm " +
        "FROM st WHERE n >= 2 AND sx > 0) " +
        "SELECT CAST(len(bin(cv2_ppm)) AS BIGINT) AS bucket, " +
        "count(*) AS n_users, min(cv2_ppm) AS min_cv2_ppm, " +
        "max(cv2_ppm) AS max_cv2_ppm FROM cv GROUP BY 1")),

    // robust anomaly detection on daily counts: median/MAD (exact
    // order statistics via the grouped bisection op — a single outage
    // day can't drag a mean/σ gate the way it would spikeFlags' z-test),
    // flag |x − med| > 3·MAD; counts frame sealed once so the bisect
    // rounds never rescan raw events
    QuerySpec("events_robust_anomaly", (s, dir) => {
      val cnts = events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n_events"))
        .transform(graft.functions.Frames.truncate)
      val med = Profile.exactQuantilesBisectByGroup(
          cnts, "event_type", "n_events", Seq(500000L))
        .select(col("event_type"), col("value").as("med"))
      val dev = cnts.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("n_events") - col("med")))
        .transform(graft.functions.Frames.truncate)
      val mad = Profile.exactQuantilesBisectByGroup(
          dev, "event_type", "adev", Seq(500000L))
        .select(col("event_type"), col("value").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .select(col("event_type"), col("day"), col("n_events"),
          col("med"), col("mad"),
          // adev IS the deviation the MAD was bisected over — one
          // definition, no second copy to drift
          (col("adev") > lit(3L) * col("mad"))
            .cast("long").as("is_anomaly"))
    },
      // both medians materialized by rank (the type-1 quantile the engine
      // bisects to); same k for count and deviation medians (same n)
      ("WITH c AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "count(*) AS n_events FROM events GROUP BY 1, 2), " +
        "nn AS (SELECT event_type, count(*) AS n FROM c GROUP BY 1), " +
        "mk AS (SELECT event_type, greatest(1, (500000 * n + 999999) // 1000000) AS k FROM nn), " +
        "mr AS (SELECT event_type, n_events, row_number() OVER (PARTITION BY event_type ORDER BY n_events) AS rn FROM c), " +
        "med AS (SELECT mr.event_type AS event_type, mr.n_events AS med FROM mr " +
        "JOIN mk ON mk.event_type = mr.event_type AND mr.rn = mk.k), " +
        "d AS (SELECT c.event_type AS event_type, c.day, c.n_events, med.med, " +
        "abs(c.n_events - med.med) AS adev FROM c JOIN med ON med.event_type = c.event_type), " +
        "dr AS (SELECT event_type, adev, row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn FROM d), " +
        "mad AS (SELECT dr.event_type AS event_type, dr.adev AS mad FROM dr " +
        "JOIN mk ON mk.event_type = dr.event_type AND dr.rn = mk.k) " +
        "SELECT d.event_type AS event_type, d.day, d.n_events, d.med AS med, mad.mad AS mad, " +
        "CAST(CASE WHEN abs(d.n_events - d.med) > 3 * mad.mad THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly " +
        "FROM d JOIN mad ON mad.event_type = d.event_type")),

    // session-shape histogram: sessions bucketed by log2 event count,
    // with exact integer duration stats per bucket — the engagement-
    // distribution readout on top of the shared sessionizer
    QuerySpec("events_session_hist", (s, dir) => {
      val sess = EventStream.sessionize(
        events(s, dir).withColumn("value",
          col("value").cast(DecimalType(18, 6))), gapMinutes = 30)
      sess
        .select(col("n_events"),
          (unix_micros(col("session_end")) -
            unix_micros(col("session_start"))).as("_dur"))
        .groupBy(length(bin(col("n_events"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          min(col("n_events")).as("min_events"),
          max(col("n_events")).as("max_events"),
          Sampling.intDivExact(
            sum(col("_dur").cast("decimal(38,0)")),
            count(lit(1))).as("mean_duration_us"))
    },
      // same sessionizer CTE, then the log2 histogram; durations and the
      // floor-mean all exact integers
      ("WITH e AS (SELECT user_id, ts FROM events), " +
        "g AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns " +
        "FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e)), " +
        "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS session_seq FROM g), " +
        "sess AS (SELECT user_id, session_seq, count(*) AS n_events, " +
        "epoch_us(max(ts)) - epoch_us(min(ts)) AS dur FROM s GROUP BY 1, 2) " +
        "SELECT CAST(len(bin(n_events)) AS BIGINT) AS bucket, " +
        "count(*) AS n_sessions, min(n_events) AS min_events, " +
        "max(n_events) AS max_events, " +
        "CAST((sum(CAST(dur AS HUGEINT)) - ((sum(CAST(dur AS HUGEINT)) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS mean_duration_us " +
        "FROM sess GROUP BY 1")),

    // seasonal-naive forecast backtest: predict day t's volume with day
    // t-7 (and t-1 as the naive floor); exact integer MAE in µ per type —
    // the "is there weekly seasonality worth modeling" answer
    QuerySpec("events_forecast_naive", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      def lagJoin(offset: Int, name: String) = daily
        .join(daily.select(col("event_type"),
          date_add(col("day"), offset).as("day"), col("c").as("_p")),
          Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as(s"n_$name"),
          Sampling.intDivExact(
            sum(abs(col("c") - col("_p")).cast("decimal(38,0)"))
              * lit(1000000L),
            count(lit(1))).as(s"mae${name}_us"))
      lagJoin(7, "w").join(lagJoin(1, "d"), Seq("event_type"))
    },
      // non-negative MAE numerators → // is exact floor; day+INT arithmetic
      ("WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "count(*) AS c FROM events GROUP BY 1, 2), " +
        "w AS (SELECT a.event_type, count(*) AS n_w, " +
        "CAST((sum(CAST(abs(a.c - b.c) AS HUGEINT)) * 1000000) // count(*) AS BIGINT) AS maew_us " +
        "FROM d a JOIN d b ON a.event_type = b.event_type AND a.day = b.day + CAST(7 AS INTEGER) GROUP BY 1), " +
        "o AS (SELECT a.event_type, count(*) AS n_d, " +
        "CAST((sum(CAST(abs(a.c - b.c) AS HUGEINT)) * 1000000) // count(*) AS BIGINT) AS maed_us " +
        "FROM d a JOIN d b ON a.event_type = b.event_type AND a.day = b.day + CAST(1 AS INTEGER) GROUP BY 1) " +
        "SELECT w.event_type, n_w, maew_us, n_d, maed_us " +
        "FROM w JOIN o ON w.event_type = o.event_type")),

    // DAU / trailing-7-day WAU / floor-ppm stickiness per active day —
    // the trailing week via a 7-way day fan-out + distinct, never a
    // distinct-over-range window
    QuerySpec("events_stickiness", (s, dir) =>
      EventAnalytics.stickiness(events(s, dir), "user_id",
        date_trunc("day", col("ts")).cast("date")),
      // 7-way day fan-out + distinct ≡ the engine's WAU shape
      ("WITH ud AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "user_id AS u FROM events), " +
        "dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1), " +
        "w AS (SELECT DISTINCT day + CAST(o AS INTEGER) AS day, u FROM ud, range(0, 7) t(o)), " +
        "wau AS (SELECT day, count(*) AS wau FROM w GROUP BY 1) " +
        "SELECT dau.day AS day, dau.dau AS dau, wau.wau AS wau, " +
        "CAST((CAST(dau.dau AS HUGEINT) * 1000000) // wau.wau AS BIGINT) AS stickiness_ppm " +
        "FROM dau JOIN wau USING (day)")),

    // per-hour top event types: rank ≤ 3 over a by-hour window plans as
    // WindowGroupLimit (partial top-k before the shuffle)
    QuerySpec("events_top_types", (s, dir) => {
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("hour"))
        .orderBy(col("n_events").desc, col("event_type"))
      hourly.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topTypesK)
    },
      // top-k per hour with the total (count desc, type) order
      (s"WITH h AS (SELECT date_trunc('hour', ts) AS hour, event_type, " +
        "count(*) AS n_events FROM events GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY hour " +
        "ORDER BY n_events DESC, event_type) AS rank FROM h) " +
        s"SELECT hour, event_type, n_events, CAST(rank AS INTEGER) AS rank " +
        s"FROM r WHERE rank <= $topTypesK")),

    // ---- events: windowed agg, sessionization, streaming ----------------
    QuerySpec("events_window", (s, dir) => driverSafe(
      EventStream.windowedAgg(
        events(s, dir)
          .withColumn("value", col("value").cast(DecimalType(18, 6))),
        "1 hour", exactDistinct = true)),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin),

    QuerySpec("events_sessionize", (s, dir) => driverSafe(
      EventStream.sessionize(
        events(s, dir)
          .withColumn("value", col("value").cast(DecimalType(18, 6))),
        gapMinutes = 30)),
      ("WITH e AS (SELECT user_id, ts, CAST(value AS DECIMAL(18,6)) AS value FROM events), " +
        "g AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns " +
        "FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e)), " +
        "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts) " +
        "AS session_seq FROM g) " +
        "SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, " +
        "min(ts) AS session_start, max(ts) AS session_end, " +
        "count(*) AS n_events, CAST(sum(value) AS DOUBLE) AS sum_value " +
        "FROM s GROUP BY user_id, session_seq")),

    // ---- batch product analytics: funnel / retention / resample ---------
    // strictly-ordered signup → click → purchase funnel: one conditional
    // aggregation per stage + users-sized joins, never an event self-join
    QuerySpec("events_funnel", (s, dir) =>
      EventAnalytics.funnel(events(s, dir), "user_id",
        unix_micros(col("ts")),
        col("event_type") === "signup",
        col("event_type") === "click",
        col("event_type") === "purchase"),
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(epoch_us(ts)) AS s1_us FROM events
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS s2_us FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.s1_us
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS s3_us FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.s2_us
        |       GROUP BY 1)
        |SELECT u.user_id, s1_us, s2_us, s3_us,
        |  CAST(CASE WHEN s3_us IS NOT NULL THEN 3
        |            WHEN s2_us IS NOT NULL THEN 2
        |            WHEN s1_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)""".stripMargin),

    // daily cohort retention counts (first-seen day × day offset)
    QuerySpec("events_retention", (s, dir) =>
      EventAnalytics.retention(events(s, dir), "user_id",
        unix_micros(col("ts")), bucketUs = 86400000000L),
      """WITH a AS (SELECT user_id,
        |             epoch_us(ts) - epoch_us(ts) % 86400000000 AS bucket_us
        |           FROM events),
        |c AS (SELECT user_id, min(bucket_us) AS cohort_us FROM a GROUP BY 1)
        |SELECT c.cohort_us,
        |  (a.bucket_us - c.cohort_us) // 86400000000 AS bucket_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM a JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin),

    // day-of-week seasonal profile (epoch-day mod 7 index): per-weekday
    // event share and value index vs the all-days mean, every ratio an
    // exact integer over the DECIMAL sums — the seasonality-correction
    // input for the anomaly/forecast queries
    QuerySpec("events_seasonality", (s, dir) => {
      val ev = events(s, dir).select(
        pmod(Sampling.intDivExact(unix_micros(col("ts")), lit(dayUs)),
          lit(7L)).as("weekday"),
        floor(col("value") * 1000000).cast("long").as("val_us"))
      val wd = ev.groupBy(col("weekday"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("val_us").cast(DecimalType(38, 0))).as("_sum"))
      val tot = wd.agg(sum(col("n_events")).as("_n_all"),
        sum(col("_sum")).as("_sum_all"))
      wd.crossJoin(broadcast(tot))
        .select(col("weekday"), col("n_events"),
          col("_sum").cast("long").as("value_sum_us"),
          Sampling.intDivExact(col("n_events") * lit(1000000L),
            col("_n_all")).as("share_ppm"),
          Sampling.intDivExact(
            col("_sum") * col("_n_all").cast(DecimalType(38, 0)) *
              lit(1000000L),
            col("n_events").cast(DecimalType(38, 0)) * col("_sum_all"))
            .as("value_index_ppm"))
    },
      // seasonality: epoch-day mod 7 buckets, exact integer ratios over
      // HUGEINT sums
      ("WITH e AS (SELECT (epoch_us(ts) // 86400000000) % 7 AS weekday, " +
        "CAST(floor(value * 1000000) AS BIGINT) AS val_us FROM events), " +
        "wd AS (SELECT weekday, count(*) AS n_events, " +
        "CAST(sum(val_us) AS HUGEINT) AS sm FROM e GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_events) AS HUGEINT) AS n_all, " +
        "CAST(sum(sm) AS HUGEINT) AS sum_all FROM wd) " +
        "SELECT weekday, n_events, CAST(sm AS BIGINT) AS value_sum_us, " +
        "CAST((n_events * 1000000) // n_all AS BIGINT) AS share_ppm, " +
        "CAST((sm * n_all * 1000000) // (n_events * sum_all) AS BIGINT) " +
        "AS value_index_ppm FROM wd CROSS JOIN tot")),

    // per-event ML feature extraction: trailing RANGE-frame windows over
    // each user's own timeline (7d/30d behavior counts, µ-exact spend)
    // plus the purchase-in-next-24h label window — the churn/propensity
    // training-frame builder; frames are VALUE ranges so duplicate
    // timestamps resolve identically in both engines
    QuerySpec("events_user_features", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type"),
        floor(col("value") * 1000000).cast("long").as("val_us"))
      def uw(lo: Long, hi: Long) = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us")).rangeBetween(lo, hi)
      val w7 = uw(-7L * dayUs, -1L)
      val w30 = uw(-30L * dayUs, -1L)
      val wNext = uw(1L, dayUs)
      ev.select(col("event_id"), col("user_id"), col("t_us"),
        count(lit(1)).over(w7).as("n_events_7d"),
        coalesce(sum(when(col("event_type") === "click", 1L)
          .otherwise(0L)).over(w7), lit(0L)).as("clicks_7d"),
        coalesce(sum(col("val_us")).over(w30), lit(0L)).as("value_30d_us"),
        coalesce(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).over(wNext), lit(0L)).as("purchases_next_24h"))
    },
      // user features: identical VALUE-range frames (peers resolve by
      // value, not row order), empty sum frames coalesced to 0
      ("WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, " +
        "event_type, CAST(floor(value * 1000000) AS BIGINT) AS val_us " +
        "FROM events) " +
        "SELECT event_id, user_id, t_us, " +
        "count(*) OVER (PARTITION BY user_id ORDER BY t_us " +
        "RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING) AS n_events_7d, " +
        "CAST(COALESCE(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY t_us " +
        "RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS clicks_7d, " +
        "CAST(COALESCE(sum(val_us) OVER (PARTITION BY user_id ORDER BY t_us " +
        "RANGE BETWEEN 2592000000000 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS value_30d_us, " +
        "CAST(COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY t_us " +
        "RANGE BETWEEN 1 FOLLOWING AND 86400000000 FOLLOWING), 0) AS BIGINT) " +
        "AS purchases_next_24h FROM e")),

    // cohort lifetime-value matrix: signup week × age week → active
    // users + µ-exact revenue + running LTV (window over the bounded
    // cohort×age frame, never over raw events)
    QuerySpec("events_cohort_ltv", (s, dir) => {
      val wk = lit(cohortWeekUs)
      val ev = events(s, dir).select(col("user_id"),
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")), wk))
          .as("wk_us"),
        floor(col("value") * 1000000).cast("long").as("val_us"))
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(col("wk_us")).as("cohort_us"))
      val cell = ev.join(cohort, "user_id")
        .select(col("cohort_us"),
          Sampling.intDivExact(col("wk_us") - col("cohort_us"), wk)
            .as("age_wk"),
          col("user_id"), col("val_us"))
        .groupBy(col("cohort_us"), col("age_wk"))
        .agg(countDistinct(col("user_id")).as("n_active"),
          sum(col("val_us").cast(DecimalType(38, 0))).as("_rev"))
      cell.select(col("cohort_us"), col("age_wk"), col("n_active"),
        col("_rev").cast("long").as("rev_us"),
        sum(col("_rev")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("cohort_us")).orderBy(col("age_wk")))
          .cast("long").as("cum_rev_us"))
    },
      // cohort LTV: week buckets, µ-floored revenue, running window over
      // the cohort×age cells (default RANGE frame — age_wk is unique per
      // cohort so it equals ROWS)
      (s"WITH a AS (SELECT user_id, epoch_us(ts) - epoch_us(ts) % $cohortWeekUs AS wk_us, " +
        "CAST(floor(value * 1000000) AS BIGINT) AS val_us FROM events), " +
        "c AS (SELECT user_id, min(wk_us) AS cohort_us FROM a GROUP BY 1), " +
        s"cell AS (SELECT c.cohort_us, (a.wk_us - c.cohort_us) // $cohortWeekUs AS age_wk, " +
        "count(DISTINCT a.user_id) AS n_active, sum(a.val_us) AS rev " +
        "FROM a JOIN c USING (user_id) GROUP BY 1, 2) " +
        "SELECT cohort_us, age_wk, n_active, CAST(rev AS BIGINT) AS rev_us, " +
        "CAST(sum(rev) OVER (PARTITION BY cohort_us ORDER BY age_wk) AS BIGINT) AS cum_rev_us " +
        "FROM cell")),

    // crosstab via groupBy().pivot() with EXPLICIT pivot values (no
    // pre-scan job; plans as one partial-aggregated shuffle)
    QuerySpec("events_pivot", (s, dir) =>
      events(s, dir)
        .select((unix_micros(col("ts")) - pmod(unix_micros(col("ts")),
          lit(3600000000L))).as("hour_us"), col("event_type"))
        .groupBy("hour_us")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(col("hour_us"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("error"), lit(0L)).as("error"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("signup"), lit(0L)).as("signup"),
          coalesce(col("view"), lit(0L)).as("view")),
      """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin),

    // trailing-24h spike detection per event type with the INTEGER-EXACT
    // z-test ((n·x−Σ)² > z²(nΣx²−Σ²)) — no fp mean/stddev anywhere
    QuerySpec("events_anomaly", (s, dir) =>
      EventAnalytics.spikeFlags(events(s, dir), "event_type",
        unix_micros(col("ts")), bucketUs = 3600000000L,
        lookback = 24, z = 3, minBase = 12),
      """WITH c AS (SELECT event_type AS series,
        |             epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
        |             count(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |wf AS (SELECT series, bucket_us, n_events,
        |         count(n_events) OVER tw AS base_n,
        |         sum(n_events) OVER tw AS base_sum,
        |         sum(CAST(n_events AS HUGEINT) * n_events) OVER tw AS base_sumsq
        |       FROM c WINDOW tw AS (PARTITION BY series ORDER BY bucket_us
        |         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT series, bucket_us, n_events,
        |  CAST(COALESCE(base_n, 0) AS BIGINT) AS base_n,
        |  CAST(COALESCE(base_sum, 0) AS BIGINT) AS base_sum,
        |  CAST((base_n >= 12 AND CAST(base_n AS HUGEINT) * n_events > base_sum
        |    AND (CAST(base_n AS HUGEINT) * n_events - base_sum)
        |      * (CAST(base_n AS HUGEINT) * n_events - base_sum)
        |      > 9 * (CAST(base_n AS HUGEINT) * base_sumsq
        |             - CAST(base_sum AS HUGEINT) * base_sum)) AS BIGINT)
        |    AS is_spike
        |FROM wf""".stripMargin),

    // gap-filled hourly resample with zero-fill + forward-filled mean;
    // the hour spine generates per user from (min, max) — no driver calendar
    QuerySpec("events_resample", (s, dir) => driverSafe(
      EventAnalytics.resampleHourly(events(s, dir), "user_id",
        unix_micros(col("ts")), col("value"))),
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |              CAST(value AS DECIMAL(18,6)) AS v FROM events),
        |hourly AS (SELECT user_id, ts_us - ts_us % 3600000000 AS hour_us,
        |             count(*) AS n, sum(v) AS s FROM ev GROUP BY 1, 2),
        |sp AS (SELECT user_id,
        |         unnest(generate_series(min(hour_us), max(hour_us),
        |                                3600000000)) AS hour_us
        |       FROM hourly GROUP BY user_id),
        |j AS (SELECT sp.user_id, sp.hour_us, hourly.n, hourly.s FROM sp
        |      LEFT JOIN hourly ON hourly.user_id = sp.user_id
        |        AND hourly.hour_us = sp.hour_us),
        |f AS (SELECT user_id, hour_us, n, s,
        |        last_value(s IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY hour_us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs,
        |        last_value(n IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY hour_us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fn
        |      FROM j)
        |SELECT user_id, hour_us, CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
        |  CAST(COALESCE(s, 0) AS DOUBLE) AS sum_value,
        |  CAST(fs AS DOUBLE) / fn AS ffill_avg
        |FROM f""".stripMargin),

    // a REAL streaming drain (file source → watermark → update-mode memory
    // sink), then the final emission per window is hash-compared against
    // the batch SQL — a streaming/batch consistency oracle. n_users (HLL)
    // is excluded from the checked projection: the sketch estimate is
    // engine-specific; counts and the exact decimal sum are not
    QuerySpec("events_stream_hourly", (s, dir) =>
      EventStream.runStreaming(s, dir, "events.parquet",
          t(s, dir, "events").schema, "1 hour", "2 hours")
        .select(col("window_start"), col("event_type"), col("n_events"),
          col("sum_value").cast("double").as("sum_value")),
      // streaming/batch consistency: the drained stream's final emissions
      // must equal the batch aggregation (exact decimal sum; HLL excluded)
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin),

    // stateful-session drain: final per-user counts must equal the batch
    // sessionization aggregated per user (single-batch drain ⇒ the
    // incremental state walk sees events in ts order)
    QuerySpec("events_stream_sessions", (s, dir) =>
      EventStream.runStatefulSessions(s, dir, "events.parquet",
        t(s, dir, "events").schema, gapMinutes = 30),
      ("WITH g AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns " +
        "FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events)), " +
        "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS session_seq FROM g) " +
        "SELECT CAST(user_id AS BIGINT) AS user_id, " +
        "CAST(max(session_seq) AS BIGINT) AS n_sessions, " +
        "count(*) AS n_events FROM s GROUP BY user_id")),

    // streaming ingest dedup by event id within the watermark horizon;
    // event ids are unique in this corpus, so the deduped stream must
    // reproduce the input EXACTLY — a checkable pass-through oracle
    QuerySpec("events_stream_dedup", (s, dir) =>
      EventStream.runStreamingDedup(s, dir, "events.parquet",
          t(s, dir, "events").schema, "2 hours", Seq("event_id"))
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props")),
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |  value, props
        |FROM events""".stripMargin),

    // semi-structured props profiling: the reference's `_props` JSON
    // pattern (S3) applied to the event stream — native JsonToStructs
    // (codegen'd, no UDF) feeding one hash aggregate
    // string-path extraction + cast (get_json_object ≡ DuckDB
    // json_extract_string): a string-valued "5" parses to 5 on BOTH
    // sides — from_json('k BIGINT') would null it in Spark only.
    // Residual divergence: MALFORMED props null here but error in DuckDB
    // (the harness generator only emits well-formed JSON)
    QuerySpec("events_props_profile", (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          sum(col("k")).as("sum_k")),
      ("WITH p AS (SELECT event_type, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) " +
        "SELECT event_type, count(*) AS n_events, count(k) AS n_with_k, " +
        "min(k) AS min_k, max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k " +
        "FROM p GROUP BY 1")),

    // stream-stream interval join: click → purchase attribution within a
    // 2 h window; watermarks + the time-bound condition keep state finite,
    // append mode ⇒ exactly the batch interval join (the oracle)
    QuerySpec("events_stream_attrib", (s, dir) =>
      EventStream.runStreamingIntervalJoin(s, dir, "events.parquet",
          t(s, dir, "events").schema, "click", "purchase",
          withinMinutes = 120, watermark = "4 hours")
        .select(col("from_id"), col("to_id"), col("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          unix_micros(col("to_ts")).as("to_us")),
      """SELECT c.event_id AS from_id, p.event_id AS to_id, c.user_id,
        |  epoch_us(c.ts) AS from_us, epoch_us(p.ts) AS to_us
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 120 MINUTE""".stripMargin),

    // stream-static enrichment: each micro-batch broadcast-joins the
    // customer dimension (left join — events with no dim row still flow);
    // append mode ⇒ exactly the batch join, row for row
    QuerySpec("events_stream_enrich", (s, dir) => {
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      EventStream.runStreamingEnrich(s, dir, "events.parquet",
          t(s, dir, "events").schema, dim, Seq("user_id"))
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"),
          col("c_mktsegment"))
    },
      """SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id,
        |  e.event_type, e.value, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin),

    // streaming ingest dedup screen: corpus_ingest's exact+LSH existence
    // probes applied ON ARRIVAL — new docs (stable bucket ≥ 80) stream
    // against the persisted old-corpus index; same output, same oracle
    // (the batch-twin streaming-oracle pattern); flag aggregation is the
    // only state and flags are monotone, so redelivery is idempotent
    QuerySpec("events_stream_ingest_screen", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = Sampling.stableBucket(col("doc_id"))
      EventStream.runStreamingIngestScreen(s, dir, "documents.parquet",
        t(s, dir, "documents").schema, docs.filter(bucket < 80),
        bucket >= 80, "doc_id", "text", hasher = Dedup.Md5Hasher)
    },
      // the streaming screen computes corpus_ingest's exact output (same
      // split, same Md5 kernels) — one oracle text, batch AND stream
      ingestOracleSql))
}
