package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, Some("alpha"), Some("en"), 10L),
    (2L, Some("beta"), Some("de"), 200L),
    (3L, None: Option[String], Some("xx"), 999L),
    (4L, Some("gamma"), None: Option[String], 20L),
    (4L, Some("delta"), Some("en"), 30L) // dup id
  ).toDF("id", "txt", "lang", "n")

  private def report = Checks.run(df, Seq(
    Checks.Completeness("txt", 1000000L),
    Checks.Uniqueness("id", 1000000L),
    Checks.InRange("n", 1L, 100L, 500000L),
    Checks.MatchesRegex("txt", "^[a-z]+$", 1000000L),
    Checks.InSet("lang", Seq("en", "de"), 600000L)))

  private def byName(rows: Seq[Row], name: String, c: String): Row =
    rows.find(r => r.getString(0) == name && r.getString(1) == c).get

  test("each check reports floor-ppm over its own base and the verdict") {
    val rows = report.collect().toSeq
    assert(rows.length == 5)
    // completeness: 4/5 non-null → 800000, fails the 1e6 threshold
    val comp = byName(rows, "completeness", "txt")
    assert(comp.getLong(2) == 800000L && comp.getLong(4) == 0L)
    // uniqueness: 4 distinct of 5 rows → 800000, fails
    val uniq = byName(rows, "uniqueness", "id")
    assert(uniq.getLong(2) == 800000L && uniq.getLong(4) == 0L)
    // in_range [1,100]: base = 5 non-null, ok = {10,20,30} → 600000, passes 5e5
    val rng = byName(rows, "in_range", "n")
    assert(rng.getLong(2) == 600000L && rng.getLong(4) == 1L)
    // regex: base = 4 non-null strings, all lowercase → 1e6, passes
    val re = byName(rows, "matches_regex", "txt")
    assert(re.getLong(2) == 1000000L && re.getLong(4) == 1L)
    // in_set {en,de}: base = 4 non-null langs, ok = 3 → 750000, passes 6e5
    val st = byName(rows, "in_set", "lang")
    assert(st.getLong(2) == 750000L && st.getLong(4) == 1L)
  }

  test("empty input passes ratio checks vacuously (observed pinned to 1e6)") {
    val rows = Checks.run(df.limit(0), Seq(
      Checks.Completeness("txt", 1000000L),
      Checks.Uniqueness("id", 1000000L))).collect().toSeq
    assert(rows.forall(r => r.getLong(2) == 1000000L && r.getLong(4) == 1L))
  }

  test("the whole suite is one scan: single aggregate, no per-check union") {
    val plan = report.queryExecution.optimizedPlan.toString
    // one Aggregate over the relation + one Generate (the explode fan-out);
    // a union-of-selects shape would show N aggregates
    assert("(?s)Aggregate".r.findAllIn(plan).size <= 2, plan) // partial+final at most
    assert(!plan.contains("Union"), plan)
  }

  test("approx uniqueness mode swaps in the HLL sketch") {
    val rows = Checks.run(df, Seq(Checks.Uniqueness("id", 1000000L)),
      exactDistinct = false).collect().toSeq
    // HLL at this cardinality is exact: 4 distinct of 5 rows
    assert(rows.head.getLong(2) == 800000L)
  }

  test("fkIntegrity: orphan and NULL FKs are counted, clean edges report " +
      "zero, empty child reports rate 0") {
    import spark.implicits._
    val child = Seq(Some(1L), Some(1L), Some(7L), None)
      .toDF("fk")
    val parent = Seq(1L, 2L).toDF("pk")
    val empty = Seq.empty[Long].toDF("fk")
    val rows = Checks.fkIntegrity(Seq(
      ("c.fk", child, "fk", parent, "pk"),
      ("e.fk", empty, "fk", parent, "pk"))).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 4 rows, orphans = the 7 and the NULL → 2 → 500000 ppm
    assert(rows("c.fk") === ((4L, 2L, 500000L)))
    assert(rows("e.fk") === ((0L, 0L, 0L)))
  }
}
