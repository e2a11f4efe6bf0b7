package graft.functions

import graft.SparkSpec

/** Blocked fuzzy matching: recall within the block structure, the
  * stop-token cap, determinism, and the no-all-pairs plan guarantee. */
class LinkageSpec extends SparkSpec {
  import spark.implicits._

  private def entities(rows: (String, Long)*) =
    rows.toDF("name", "n_rows")

  test("typo pairs sharing a token match; disjoint-token pairs never pair") {
    val out = Linkage.blockedFuzzyPairs(
      entities(("acme corp", 3L), ("acme corpp", 1L), ("acme inc", 2L),
        ("zzz ltd", 5L), ("omega gmbh", 1L)),
      "name", "n_rows", maxDist = 2, tokenCap = 10)
      .select("name_a", "name_b", "dist").as[(String, String, Int)]
      .collect().toSet
    // "acme corp"/"acme corpp" share "acme" and differ by one insert;
    // "acme inc" shares the block but dist 4 fails verify; "zzz ltd" and
    // "omega gmbh" share no token with anything
    assert(out === Set(("acme corp", "acme corpp", 1)))
  }

  test("ordering is canonical (name_a < name_b) and pairs are distinct") {
    val out = Linkage.blockedFuzzyPairs(
      entities(("b x", 1L), ("a x", 1L), ("a y", 1L)),
      "name", "n_rows", maxDist = 4, tokenCap = 10)
    val rows = out.select("name_a", "name_b").as[(String, String)].collect()
    assert(rows.length === rows.distinct.length)
    assert(rows.forall { case (a, b) => a < b })
    // "a x"/"a y" share "a" (dist 1), "a x"/"b x" share "x" (dist 1),
    // "a y"/"b x" share nothing (dist 2 but no common token -> absent)
    assert(rows.toSet === Set(("a x", "a y"), ("a x", "b x")))
  }

  test("stop-token cap drops hot blocks but keeps rare-token matches") {
    // 20 names share the hot token "the"; two of them also share the rare
    // token "zebra" and still match through it once "the" is capped away
    val hot = (0 until 20).map(i => (s"the name$i", 1L))
    val in = entities(hot ++ Seq(("zebra the", 1L), ("zebra thf", 1L)): _*)
    val out = Linkage.blockedFuzzyPairs(in, "name", "n_rows",
      maxDist = 1, tokenCap = 5)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    assert(out === Set(("zebra the", "zebra thf")))
  }

  test("support counts ride along unchanged") {
    val out = Linkage.blockedFuzzyPairs(
      entities(("red plate", 7L), ("hot plate", 9L)),
      "name", "n_rows", maxDist = 3, tokenCap = 10)
      .select("name_a", "n_a", "name_b", "n_b")
      .as[(String, Long, String, Long)].collect().toSet
    assert(out === Set(("hot plate", 9L, "red plate", 7L)))
  }

  test("plan has no cartesian/nested-loop join") {
    val plan = Linkage.blockedFuzzyPairs(
      entities(("a b", 1L), ("a c", 1L)), "name", "n_rows", 2, 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
