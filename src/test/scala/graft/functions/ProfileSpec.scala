package graft.functions

import graft.SparkSpec

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("columnProfile: nulls, distincts, native-typed min/max per column") {
    val df = Seq(
      (1L, Some("b"), Some(10L)),
      (2L, None, Some(2L)),
      (3L, Some("a"), None),
      (4L, Some("a"), Some(10L))).toDF("id", "s", "v")
    val m = Profile.columnProfile(df, Seq("id", "s", "v")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    assert(m("id") === ((4L, 0L, 4L, "1", "4")))
    assert(m("s") === ((4L, 1L, 2L, "a", "b")))
    // numeric min/max aggregates on the NATIVE type: 2 < 10 even though
    // the string "10" < "2"
    assert(m("v") === ((4L, 1L, 2L, "2", "10")))
  }

  test("columnProfile plans ONE scan: single aggregate, no join or union") {
    val df = Seq((1L, "a")).toDF("id", "s")
    val plan = Profile.columnProfile(df, Seq("id", "s"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Union"), plan)
  }

  test("exactQuantilesBisect: equals sorted order statistics, with ties, " +
      "negatives, nulls, and the q=1 endpoint; empty input yields no rows") {
    import spark.implicits._
    val vals = Seq(5L, -3L, 7L, 7L, 7L, 0L, 100L, -3L, 42L, 9L)
    val df = (vals.map(Option(_)) :+ None).toDF("v") // one NULL, ignored
    val qs = Seq(1L, 250000L, 500000L, 900000L, 1000000L)
    val got = Profile.exactQuantilesBisect(df, "v", qs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val sorted = vals.sorted
    qs.foreach { q =>
      val k = math.max(1L, (q * vals.size + 999999L) / 1000000L)
      assert(got(q) === ((k, sorted((k - 1).toInt))), s"q=$q")
    }
    assert(got(1000000L)._2 === 100L)  // q=1 is the max
    assert(got(1L)._2 === -3L)         // tiny q is the min
    assert(Profile.exactQuantilesBisect(
      Seq.empty[Long].toDF("v"), "v", Seq(500000L)).count() === 0L)
  }

  test("exactQuantilesBisect: full-long-domain brackets converge (the " +
      "hi-lo span overflows signed long)") {
    import spark.implicits._
    val vals = Seq(Long.MinValue, -7L, 0L, 9L, Long.MaxValue)
    val got = Profile.exactQuantilesBisect(vals.toDF("v"), "v",
        Seq(1L, 500000L, 1000000L)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) === Long.MinValue)
    assert(got(500000L) === 0L)
    assert(got(1000000L) === Long.MaxValue)
  }

  test("exactQuantilesBisectByGroup: per-group order statistics match a " +
      "per-group sort; groups of different sizes and ranges coexist") {
    import spark.implicits._
    val rows = Seq("a" -> 10L, "a" -> 20L, "a" -> 30L, "a" -> 40L,
      "b" -> -5L, "b" -> 1000000L, "b" -> 7L)
    val got = Profile.exactQuantilesBisectByGroup(
        rows.toDF("g", "v"), "g", "v", Seq(500000L, 1000000L))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    def expect(vs: Seq[Long], q: Long) = {
      val k = math.max(1L, (q * vs.size + 999999L) / 1000000L)
      (k, vs.sorted.apply((k - 1).toInt))
    }
    assert(got(("a", 500000L)) === expect(Seq(10L, 20L, 30L, 40L), 500000L))
    assert(got(("a", 1000000L)) === ((4L, 40L)))
    assert(got(("b", 500000L)) === ((2L, 7L)))
    assert(got(("b", 1000000L)) === ((3L, 1000000L)))
  }

  test("exactQuantileValues: lock-step multi-column search matches " +
      "per-column sorted order statistics, nulls excluded per column") {
    import spark.implicits._
    val xs = Seq(5L, 1L, 9L, 9L, 2L, 7L, 100L, -4L)
    val ys = Seq(10L, 30L, 20L, 40L, 50L, 60L, 70L, 80L)
    val rows = xs.map(Option(_)).zip(ys.map(Option(_))) :+
      ((None: Option[Long], Some(999L))) // null x row: y still counts
    val got = Profile.exactQuantileValues(rows.toDF("x", "y"),
      Seq("x", "y"), Seq(250000L, 500000L, 750000L, 1000000L))
    def expect(vs: Seq[Long], q: Long): Long = {
      val k = math.max(1L, (q * vs.size + 999999L) / 1000000L)
      vs.sorted.apply((k - 1).toInt)
    }
    val ysAll = ys :+ 999L
    Seq(250000L, 500000L, 750000L, 1000000L).foreach { q =>
      assert(got(("x", q)) === expect(xs, q), s"x q=$q")
      assert(got(("y", q)) === expect(ysAll, q), s"y q=$q")
    }
    intercept[IllegalArgumentException] {
      Profile.exactQuantileValues(
        Seq((Option.empty[Long], 1L)).toDF("x", "y"), Seq("x"), Seq(500000L))
    }
  }
}
