package graft.functions

import graft.SparkSpec

/** Profile.psiTerms — the PSI drift metric's defining properties. */
class DriftSpec extends SparkSpec {
  import spark.implicits._

  private def terms(rows: Seq[(String, Boolean)]): Map[String, Long] =
    Profile.psiTerms(rows.toDF("bucket", "old"), "bucket", "old")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap

  test("identical distributions yield zero PSI in every bucket") {
    val rows = for {
      b <- Seq("a", "b", "c"); old <- Seq(true, false); _ <- 1 to 10
    } yield (b, old)
    assert(terms(rows).values.forall(_ === 0L))
  }

  test("a planted shift yields positive terms that grow with the shift") {
    // old: 90/10 across a/b; new: 10/90 — a hard flip
    val rows = Seq.fill(90)(("a", true)) ++ Seq.fill(10)(("b", true)) ++
      Seq.fill(10)(("a", false)) ++ Seq.fill(90)(("b", false))
    val t = terms(rows)
    assert(t("a") > 0L && t("b") > 0L)
    // textbook threshold: this flip is far past "drifted" (PSI > 0.25)
    assert(t.values.sum > 25000000L, s"total=${t.values.sum}")
    // a mild shift scores strictly less
    val mild = Seq.fill(55)(("a", true)) ++ Seq.fill(45)(("b", true)) ++
      Seq.fill(45)(("a", false)) ++ Seq.fill(55)(("b", false))
    assert(terms(mild).values.sum < t.values.sum)
  }

  test("terms are never negative and single-sided buckets stay finite " +
      "(Laplace smoothing)") {
    val rows = Seq.fill(50)(("a", true)) ++ Seq.fill(50)(("only_new", false))
    val t = terms(rows)
    assert(t.values.forall(_ >= 0L))
    assert(t.contains("only_new")) // no NaN/∞ dropped the bucket
  }

  /** 50-digit ln of an exactly-represented double, via range reduction
    * to [0.75, 1.5] and the atanh series — the independent reference the
    * libm contingency is pinned against. */
  private def lnRef(x: Double): BigDecimal = {
    import java.math.MathContext
    val mc = new MathContext(50)
    val ln2 = BigDecimal(
      "0.69314718055994530941723212145817656807550013436026", mc)
    var m = BigDecimal(new java.math.BigDecimal(x, mc)) // exact double value
    var n = 0
    while (m > BigDecimal("1.5")) { m = m / 2; n += 1 }
    while (m < BigDecimal("0.75")) { m = m * 2; n -= 1 }
    val y = (m - 1) / (m + 1)
    val y2 = y * y
    var term = y
    var sum = BigDecimal(0)
    var k = 0
    val tail = BigDecimal(java.math.BigDecimal.ONE.movePointLeft(60))
    while (term.abs > tail) { // 10^-60 tail cutoff
      sum += term / (2 * k + 1)
      term = (term * y2).round(mc)
      k += 1
    }
    ln2 * n + sum * 2
  }

  test("libm contingency pin: engine µ8 floors equal the 50-digit " +
      "reference across adversarial count ratios, with boundary " +
      "distance far above the 2e-7 two-libm disagreement window") {
    // two-bucket tables sweeping p/q from near-1 ties to ~2000× skews,
    // including single-sided buckets (Laplace extremes)
    val configs = Seq(
      (100000L, 99999L, 7L, 7L), (1L, 100000L, 3L, 3L),
      (999L, 1000L, 123456L, 123455L), (0L, 50000L, 50000L, 0L),
      (17L, 4099L, 65537L, 19L), (2L, 3L, 5L, 7L),
      (123L, 45677L, 987L, 65L), (31L, 29L, 49999L, 49993L))
    configs.foreach { case (a1, a0, b1, b0) =>
      val rows =
        Seq.fill(a1.toInt)(("a", true)) ++ Seq.fill(a0.toInt)(("a", false)) ++
        Seq.fill(b1.toInt)(("b", true)) ++ Seq.fill(b0.toInt)(("b", false))
      val got = terms(rows)
      val (to, tn, nb) = (a1 + b1, a0 + b0, 2L)
      Seq(("a", a1, a0), ("b", b1, b0)).foreach { case (bk, nOld, nNew) =>
        // the engine's own IEEE pipeline: p, q, r are bit-identical in
        // every engine; ONLY ln(r) goes through libm
        val p = (nOld + 1).toDouble / (to + nb).toDouble
        val q = (nNew + 1).toDouble / (tn + nb).toDouble
        val r = p / q
        val scaled = (BigDecimal(new java.math.BigDecimal(p)) -
          BigDecimal(new java.math.BigDecimal(q))) * lnRef(r) *
          BigDecimal(100000000L)
        val expect = scaled.setScale(0, BigDecimal.RoundingMode.FLOOR)
          .toLongExact
        // near-tie configs (p ≈ q) have true terms of ~1e-11 µ8 units:
        // their distance-to-boundary IS the term, and the meaningful pin
        // is floor = 0 (a libm sign flip would read -1). Away from the
        // tie the distance assertion guards the declared 2e-7 window.
        if (scaled > BigDecimal("0.001")) {
          val dist = (scaled - expect).min(expect + 1 - scaled)
          assert(dist > BigDecimal("0.000001"),
            s"config ($a1,$a0,$b1,$b0)/$bk sits $dist from a µ8 boundary " +
              "— pick a different adversarial config")
        }
        assert(got(bk) === expect,
          s"config ($a1,$a0,$b1,$b0)/$bk: engine ${got(bk)} != reference " +
            s"$expect (libm ln drifted past the declared window)")
      }
    }
  }

  private def ks(a: Seq[Long], b: Seq[Long]): (Long, Long, Long, Long) =
    Profile.ksTwoSample(
      (a.map((_, true)) ++ b.map((_, false))).toDF("v", "is_a"), "v", "is_a")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).head

  test("ksTwoSample: identical samples read exactly zero") {
    assert(ks(Seq(1L, 2L, 3L, 3L), Seq(1L, 2L, 3L, 3L)) ===
      ((4L, 4L, 0L, 0L)))
  }

  test("ksTwoSample: disjoint supports read the full statistic (ppm 10^6)") {
    val (na, nb, d, ppm) = ks(Seq(1L, 2L, 3L), Seq(10L, 11L))
    assert((na, nb) === ((3L, 2L)))
    assert(d === 6L)       // at v=3: |3*2 - 0*3| = n_a*n_b
    assert(ppm === 1000000L)
  }

  test("ksTwoSample: hand-checked D = 1/2 on a crossing pair") {
    // a={1,2}, b={1,3}: CDF gap peaks at v=2 with |2*2 - 1*2| = 2 of 4
    assert(ks(Seq(1L, 2L), Seq(1L, 3L)) === ((2L, 2L, 2L, 500000L)))
  }

  test("ksTwoSample: a location shift moves D, same-shape noise does not") {
    val base = (1L to 1000L).map(i => (i * 7919L) % 100L)
    val shifted = base.map(_ + 30L)
    val (_, _, _, same) = ks(base, base)
    val (_, _, _, moved) = ks(base, shifted)
    assert(same === 0L)
    assert(moved > 250000L, s"shift read only $moved ppm")
  }
}
