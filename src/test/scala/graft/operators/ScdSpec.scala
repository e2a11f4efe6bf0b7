package graft.operators

import graft.SparkSpec

/** SCD2 history: change collapse, validity chaining, null-state safety. */
class ScdSpec extends SparkSpec {
  import spark.implicits._

  test("consecutive identical states collapse; ranges chain half-open") {
    val obs = Seq(
      (1L, 10L, "A"), (1L, 20L, "A"), (1L, 30L, "B"), (1L, 40L, "A"),
      (2L, 5L, "X"))
      .toDF("k", "ts_us", "state")
    val got = Scd.history(obs, "k", "ts_us", Seq("state"))
      .as[(Long, String, Long, Option[Long], Long)].collect().toSet
    assert(got === Set(
      (1L, "A", 10L, Some(30L), 0L),  // 20L's repeat observation collapsed
      (1L, "B", 30L, Some(40L), 0L),
      (1L, "A", 40L, None, 1L),       // A returns: a NEW version, current
      (2L, "X", 5L, None, 1L)))
  }

  test("null states collapse null-safely and may be current") {
    val obs = Seq(
      (1L, 10L, Option("A")), (1L, 20L, Option.empty[String]),
      (1L, 30L, Option.empty[String]))
      .toDF("k", "ts_us", "state")
    val got = Scd.history(obs, "k", "ts_us", Seq("state"))
      .as[(Long, Option[String], Long, Option[Long], Long)].collect().toSet
    assert(got === Set(
      (1L, Some("A"), 10L, Some(20L), 0L),
      (1L, None, 20L, None, 1L)))    // the two null observations collapsed
  }

  test("multi-column state changes when ANY component changes") {
    val obs = Seq(
      (1L, 10L, "A", 1), (1L, 20L, "A", 2), (1L, 30L, "A", 2))
      .toDF("k", "ts_us", "s1", "s2")
    val got = Scd.history(obs, "k", "ts_us", Seq("s1", "s2"))
      .select("valid_from_us").as[Long].collect().toSet
    assert(got === Set(10L, 20L))
  }

  test("upsertLatest: highest version wins per key, base-only keys " +
      "survive, insert-only keys appear") {
    val base = Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 0))
      .toDF("k", "v", "version")
    val updates = Seq((2L, "B2", 1), (9L, "new", 1))
      .toDF("k", "v", "version")
    val got = Scd.upsertLatest(base, updates, Seq("k"), "version")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(got === Map(1L -> (("a", 0)), 2L -> (("B2", 1)),
      3L -> (("c", 0)), 9L -> (("new", 1))))
  }

  test("upsertLatest plans as one aggregate — no window, no join") {
    val base = Seq((1L, "a", 0)).toDF("k", "v", "version")
    val up = Seq((1L, "b", 1)).toDF("k", "v", "version")
    val plan = Scd.upsertLatest(base, up, Seq("k"), "version")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
  }
}
