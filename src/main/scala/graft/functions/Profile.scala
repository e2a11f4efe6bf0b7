package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic one-scan column profiler (beyond-parity) — the "what is in this
  * table" report an ingest pipeline runs on every new source before
  * wiring it into a mixture: per column, null count, distinct count, and
  * min/max. The whole profile is ONE aggregation over one scan; the
  * per-column fan-out to rows happens AFTER aggregation on a single-row
  * frame (the corpus_checks shape), so the corpus is never re-read per
  * column.
  *
  * min/max aggregate on the column's NATIVE type (lexicographic-on-string
  * would mis-order numerics) and cast to string only for the report.
  * Distinct counts are exact (the oracle-checkable form): Catalyst plans
  * them through an Expand, one stream per distinct column, still over
  * the one scan. */
object Profile {

  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"_n_$c"),
        count_distinct(col(c)).as(s"_d_$c"),
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"))
    }
    val all = count(lit(1)).as("_rows") +: aggs
    val wide = df.agg(all.head, all.tail: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("_rows").as("n_rows"),
        (col("_rows") - col(s"_n_$c")).as("n_nulls"),
        col(s"_d_$c").as("n_distinct"),
        col(s"_min_$c").as("min_value"),
        col(s"_max_$c").as("max_value"))
    }
    wide.select(explode(array(rows: _*)).as("_p")).select(col("_p.*"))
  }

  /** EXACT quantiles of an integral column WITHOUT a sort — the scale
    * answer to "exact percentile needs a single-buffer sort" (the cost
    * dominating layout_rank_zorder's oracle mode, and the reason
    * `approx_percentile` is this engine's documented 100 TB default when
    * approximation is acceptable; this operator is for when it is NOT —
    * billing thresholds, SLA cut-offs, contractual percentiles).
    *
    * Semantics: the type-1 (lower) sample quantile — the k-th order
    * statistic with k = max(1, ⌈q·n⌉) — an actual data value, no
    * interpolation, so it is engine-exact by construction (DuckDB twin:
    * `ORDER BY v LIMIT 1 OFFSET k−1`).
    *
    * Algorithm: driver-side MULTI-WAY search on the VALUE domain. One
    * pass computes (n, min, max); then each round runs ONE
    * conditional-count aggregate carrying `Fanout` probes per still-open
    * quantile (a single scan regardless of |qs|) and narrows each
    * bracket to the sub-interval where the rank first reaches k.
    * ⌈log_Fanout range⌉ rounds — ≤ 16 ever at Fanout 16, ~10 for
    * micro-unit money domains — each a map-side-combined scalar
    * aggregate: no shuffle beyond the 1-row fold, no sort anywhere,
    * driver state is |qs| scalar brackets. At 100 TB that is ~10 cheap
    * scans vs one impossible global sort.
    *
    * Output: (q_ppm, k, value), |qs| rows, ordered by q_ppm. */
  def exactQuantilesBisect(df: DataFrame, valueCol: String,
                           qsPpm: Seq[Long]): DataFrame = {
    require(qsPpm.nonEmpty && qsPpm.forall(q => q >= 1 && q <= 1000000),
      s"quantiles must be in (0, 1] ppm: $qsPpm")
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("long")
    val base = bisectBase(df.select(v.as("_v")).filter(col("_v").isNotNull))
    // try/finally (not a tail unpersist): an exception mid-bisection
    // would otherwise leak the persisted base for the session lifetime
    try {
      val head = base.agg(count(lit(1)), min(col("_v")), max(col("_v")))
        .collect()(0)
      val n = head.getLong(0)
      if (n == 0)
        return Seq.empty[(Long, Long, Long)].toDF("q_ppm", "k", "value")
      val ks = qsPpm.map(q => kOf(q, n))
      val lo = Array.fill(qsPpm.size)(head.getLong(1))
      val hi = Array.fill(qsPpm.size)(head.getLong(2))
      while (lo.indices.exists(i => lo(i) < hi(i))) {
        val open = lo.indices.filter(i => lo(i) < hi(i))
        // MULTI-WAY search: Fanout−1 evenly-spaced probes per open bracket
        // in ONE scan — rounds drop from log₂ range to log_Fanout range
        // (~10 instead of ~39 for a µ-money domain); counters stay trivial
        val probes = open.map(i => probePoints(lo(i), hi(i)))
        val flat = probes.flatten
        val counts = base.agg(
            count(when(col("_v") <= flat.head, 1)),
            flat.tail.map(p => count(when(col("_v") <= p, 1))): _*)
          .collect()(0)
        var off = 0
        open.zip(probes).foreach { case (i, ps) =>
          // smallest probe whose rank reaches k bounds the order statistic
          val cs = ps.indices.map(j => counts.getLong(off + j))
          off += ps.length
          narrow(lo, hi, i, ps, cs, ks(i))
        }
      }
      qsPpm.indices.map(i => (qsPpm(i), ks(i), lo(i)))
        .toDF("q_ppm", "k", "value")
        .orderBy(col("q_ppm"))
    } finally base.unpersist(false)
  }

  /** Shared bisect-base prep: persist the narrow projection so the
    * ~log_Fanout(range) probe rounds re-scan a columnar cache instead of
    * recomputing the caller's upstream per round, and fan a
    * single-partition input out across the session's cores first
    * (optimization guide §2.5 — the single-row-group fixture case plans
    * every probe scan as ONE task otherwise; round-robin is safe, every
    * consumer is an order-free conditional count). */
  private def bisectBase(proj: DataFrame): DataFrame = {
    val cores = proj.sparkSession.sparkContext.defaultParallelism
    (if (proj.rdd.getNumPartitions * 2 < cores) proj.repartition(cores)
     else proj).persist()
  }

  /** k = max(1, ⌈q·n/10⁶⌉) in overflow-safe arithmetic: q·n exceeds a
    * signed long once n passes ~9.2e12 rows at q→10⁶ — and ~10¹³ rows is
    * exactly the population this operator is pitched at (probePoints
    * already guards the analogous bracket-width overflow with BigInt). */
  private def kOf(qPpm: Long, n: Long): Long =
    ((BigInt(qPpm) * n + 999999) / 1000000).max(1).toLong

  /** Driver-side values form of the bisect, several columns of ONE frame
    * in lock-step: a single projected base is persisted and feeds every
    * round, and each round runs one aggregate carrying the probes of
    * every still-open (column, quantile) bracket — so quartiling N
    * columns costs the same ~log_Fanout(range) cheap scans as one.
    *
    * This is the threshold engine behind
    * [[graft.operators.Layout.rankZorderSpans]] and
    * [[EventAnalytics.rfmSegments]]: the cut points come back as plain
    * Scala values and fold into the per-row CASE as LITERALS, so the
    * oracle-checked plan carries no `percentile` aggregate (no
    * single-buffer sort) anywhere — the small-SF plan IS the 100 TB plan.
    *
    * Columns must be integral-typed (callers µ-floor doubles first) and
    * each must have ≥1 non-null row. Returns (column, q_ppm) → type-1
    * quantile value. */
  def exactQuantileValues(df: DataFrame, valueCols: Seq[String],
                          qsPpm: Seq[Long]): Map[(String, Long), Long] = {
    require(valueCols.nonEmpty, "need at least one value column")
    require(qsPpm.nonEmpty && qsPpm.forall(q => q >= 1 && q <= 1000000),
      s"quantiles must be in (0, 1] ppm: $qsPpm")
    // the projected base is scanned once per bisection round (~5–10
    // times); when the input plans fewer splits than the session's cores
    // (the single-row-group fixture case — or any caller handing over a
    // one-partition aggregate), fan the NARROW long projection out once
    // so every probe scan runs on all cores instead of one (optimization
    // guide §2.5; measured 1-task 600k-row probe scans before this).
    // Round-robin is fine here: the frame is value-only and every
    // consumer is an order-free conditional count.
    val base = bisectBase(
      df.select(valueCols.map(c => col(c).cast("long").as(c)): _*))
    try {
      val headAggs = valueCols.flatMap(c =>
        Seq(count(col(c)), min(col(c)), max(col(c))))
      val head = base.agg(headAggs.head, headAggs.tail: _*).collect()(0)
      case class B(c: String, q: Long, k: Long, var lo: Long, var hi: Long)
      val brackets = valueCols.zipWithIndex.flatMap { case (c, ci) =>
        val n = head.getLong(3 * ci)
        require(n > 0, s"column $c has no non-null rows")
        qsPpm.map(q =>
          B(c, q, kOf(q, n), head.getLong(3 * ci + 1), head.getLong(3 * ci + 2)))
      }
      while (brackets.exists(b => b.lo < b.hi)) {
        val open = brackets.filter(b => b.lo < b.hi)
        val probes = open.map(b => probePoints(b.lo, b.hi))
        val counters = open.zip(probes).flatMap { case (b, ps) =>
          ps.map(p => count(when(col(b.c) <= p, 1)))
        }
        val row = base.agg(counters.head, counters.tail: _*).collect()(0)
        var off = 0
        open.zip(probes).foreach { case (b, ps) =>
          val cs = ps.indices.map(j => row.getLong(off + j))
          off += ps.length
          val j = cs.indexWhere(_ >= b.k)
          if (j < 0) b.lo = ps.last + 1
          else {
            b.hi = ps(j)
            if (j > 0) b.lo = ps(j - 1) + 1
          }
        }
      }
      brackets.map(b => (b.c, b.q) -> b.lo).toMap
    } finally base.unpersist(false)
  }

  /** Probes-per-bracket for the multi-way search: Fanout−1 interior
    * points — wide enough to cut a 2⁶³ domain in ~16 rounds, narrow
    * enough that counters per scan stay negligible. */
  private val Fanout = 16L

  private def probePoints(lo: Long, hi: Long): Seq[Long] = {
    // BigInt: `hi - lo` overflows signed long when the bracket spans most
    // of the long domain (a min/max pair near ±2⁶³ — nothing stops a
    // caller's column from containing both)
    val step = ((BigInt(hi) - BigInt(lo)) / Fanout).max(1)
    // strictly increasing probes in [lo, hi); lo itself is included so a
    // span-1 bracket still gets one probe and always closes
    (0L until Fanout).map(i => BigInt(lo) + step * i)
      .filter(p => p >= lo && p < hi).map(_.toLong).distinct
  }

  /** Shared narrowing rule: with probes p₁<…<p_m and their ranks, the
    * k-th order statistic lies in (p_{j−1}, p_j] for the smallest j with
    * rank(p_j) ≥ k — or above p_m when none reaches k. */
  private def narrow(lo: Array[Long], hi: Array[Long], i: Int,
                     ps: Seq[Long], cs: Seq[Long], k: Long): Unit = {
    val j = cs.indexWhere(_ >= k)
    if (j < 0) lo(i) = ps.last + 1
    else {
      hi(i) = ps(j)
      if (j > 0) lo(i) = ps(j - 1) + 1
    }
  }

  /** GROUPED [[exactQuantilesBisect]] for BOUNDED-cardinality group
    * columns (languages, sources, priorities — driver state is one
    * bracket per (group, quantile), so |groups| must be driver-small;
    * an unbounded group column wants the per-group percentile window
    * instead). Each round is still ONE scan: a single aggregate carrying
    * a conditional counter per open (group, quantile) pair, map-side
    * combined. Replaces the "grouped exact percentile needs a per-group
    * sort buffer" cost for dashboard-grade exact cuts at corpus scale.
    * Output: (group, q_ppm, k, value) ordered by (group, q_ppm). */
  def exactQuantilesBisectByGroup(df: DataFrame, groupCol: String,
                                  valueCol: String,
                                  qsPpm: Seq[Long]): DataFrame = {
    require(qsPpm.nonEmpty && qsPpm.forall(q => q >= 1 && q <= 1000000),
      s"quantiles must be in (0, 1] ppm: $qsPpm")
    val spark = df.sparkSession
    import spark.implicits._
    val base = bisectBase(
      df.select(col(groupCol).cast("string").as("_g"),
          col(valueCol).cast("long").as("_v"))
        .filter(col("_g").isNotNull && col("_v").isNotNull))
    try {
    val heads = base.groupBy(col("_g"))
      .agg(count(lit(1)), min(col("_v")), max(col("_v")))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .sortBy(_._1)
    case class Bracket(g: String, qPpm: Long, k: Long,
                       var lo: Long, var hi: Long)
    val brackets = for {
      (g, (n, mn, mx)) <- heads.toSeq
      q <- qsPpm
    } yield Bracket(g, q, kOf(q, n), mn, mx)
    while (brackets.exists(b => b.lo < b.hi)) {
      val open = brackets.filter(b => b.lo < b.hi)
      // same multi-way probing as the ungrouped variant, one counter per
      // (open bracket, probe) in a single scan
      val probes = open.map(b => probePoints(b.lo, b.hi))
      val counters = open.zip(probes).flatMap { case (b, ps) =>
        ps.map(p =>
          count(when(col("_g") === lit(b.g) && col("_v") <= lit(p), 1)))
      }
      val row = base.agg(counters.head, counters.tail: _*).collect()(0)
      var off = 0
      open.zip(probes).foreach { case (b, ps) =>
        val cs = ps.indices.map(j => row.getLong(off + j))
        off += ps.length
        val j = cs.indexWhere(_ >= b.k)
        if (j < 0) b.lo = ps.last + 1
        else {
          b.hi = ps(j)
          if (j > 0) b.lo = ps(j - 1) + 1
        }
      }
    }
    brackets.map(b => (b.g, b.qPpm, b.k, b.lo))
      .toDF(groupCol, "q_ppm", "k", "value")
      .orderBy(col(groupCol), col("q_ppm"))
    } finally base.unpersist(false)
  }

  /** POPULATION STABILITY INDEX terms between two tagged populations —
    * the standard production drift metric (total PSI < 0.1 stable,
    * 0.1–0.25 moderate, > 0.25 drifted): per bucket,
    * (p − q)·ln(p/q) with Laplace-smoothed shares
    * p = (n_old+1)/(Σn_old + B), q likewise (B = observed buckets — the
    * smoothing keeps single-sided buckets finite). Terms are emitted in
    * µ8 (10⁻⁸) units, FLOORED per bucket — PSI terms are non-negative
    * by construction, so any downstream total is an order-free integer
    * sum.
    *
    * EXACTNESS CONTINGENCY (declared): p, q, and p/q are IEEE double
    * operations every engine computes bit-identically, but `ln(p/q)` is
    * the platform libm — the ONE term in this metric whose floor is
    * correct-by-libm rather than correct-by-integer-arithmetic (PSI is
    * DEFINED on ln; quantizing it through this repo's len(bin()) log₂
    * ladder would change the metric, not harden it). The floored µ8
    * value of two ≤1-ulp libms can only disagree when the true term
    * sits within ~2·10⁻⁷ µ8-units of an integer boundary (error ≤
    * |p−q| · ulp(ln r) · 10⁸); DriftSpec pins the engine's floors to a
    * 50-digit reference ln across adversarial count ratios and asserts
    * the boundary distance, so a regression in either engine's libm
    * surfaces as a spec/oracle failure, not silent drift.
    *
    * Input: one row per item — (bucketCol, oldCol BOOLEAN). One hash
    * aggregate (≤ B rows) + a broadcast 1-row total; corpus-size-
    * independent output. Output: (bucketCol, n_old, n_new,
    * psi_term_u8). */
  def psiTerms(tagged: DataFrame, bucketCol: String,
               oldCol: String): DataFrame = {
    val counts = tagged.groupBy(col(bucketCol))
      .agg(count(when(col(oldCol), 1)).as("n_old"),
        count(when(!col(oldCol), 1)).as("n_new"))
    val tot = counts.agg(sum(col("n_old")).as("_to"),
      sum(col("n_new")).as("_tn"), count(lit(1)).as("_nb"))
    counts.crossJoin(broadcast(tot))
      .withColumn("_p", (col("n_old") + 1).cast("double") /
        (col("_to") + col("_nb")).cast("double"))
      .withColumn("_q", (col("n_new") + 1).cast("double") /
        (col("_tn") + col("_nb")).cast("double"))
      .select(col(bucketCol), col("n_old"), col("n_new"),
        floor((col("_p") - col("_q")) * log(col("_p") / col("_q")) *
          lit(100000000d)).cast("long").as("psi_term_u8"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic over an integer-valued
    * column (beyond-parity) — the distribution-free drift test that
    * complements [[psiTerms]]: PSI needs a binning choice and saturates
    * on tail mass; KS is binning-free (D = sup |F_a − F_b| over the
    * empirical CDFs) and is THE standard two-sample location/shape test
    * for "did doc length / score / price distribution move between
    * snapshots".
    *
    * Exactness discipline: the statistic is computed DIVISION-FREE as
    * d_num = max |c_a·n_b − c_b·n_a| over cumulative counts (pure BIGINT
    * — products bounded by n_a·n_b; callers at trillion-row scale
    * pre-aggregate or sample), with `ks_ppm = floor(d_num·10⁶ ÷
    * (n_a·n_b))` derived from the exact integers, so both engines agree
    * bit-for-bit with no floating-point CDF anywhere.
    *
    * Scale shape: one hash aggregate to per-(value, side) counts —
    * the only corpus-sized stage — then cumulative sums over the
    * DISTINCT-VALUE frame, which is value-cardinality-sized (doc
    * lengths, prices, scores: ≤10⁵ distinct), where a single-partition
    * window is the honest cheap plan (declared; same bounded-frame
    * argument as the discount tables). Output: one row
    * (n_a, n_b, d_num, ks_ppm). */
  def ksTwoSample(tagged: DataFrame, valueCol: String,
                  aCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = tagged.groupBy(col(valueCol).as("_v"))
      .agg(count(when(col(aCol), 1)).as("_ca"),
        count(when(!col(aCol), 1)).as("_cb"))
    val tot = counts.agg(sum(col("_ca")).as("n_a"),
      sum(col("_cb")).as("n_b"))
    val w = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("_fa", sum(col("_ca")).over(w))
      .withColumn("_fb", sum(col("_cb")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("_d",
        abs(col("_fa") * col("n_b") - col("_fb") * col("n_a")))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        max(col("_d")).as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        Sampling.intDiv(col("d_num").cast("decimal(38,0)") * lit(1000000L),
          col("n_a").cast("decimal(38,0)") *
            col("n_b").cast("decimal(38,0)")).as("ks_ppm"))
  }
}
