package graft.operators

import graft.SparkSpec

/** MERGE/upsert snapshot-rewrite semantics. */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  test("matched rows take non-null update values, null means no change; " +
      "unmatched updates insert; unmatched targets carry forward; " +
      "one-sided columns pass through") {
    val target = Seq((1L, "alice", 10L), (2L, "bob", 20L), (3L, "carol", 30L))
      .toDF("id", "name", "bal")
    val updates = Seq(
      (1L, Some(11L), Some("gold")),   // matched: bal updated, tier added
      (2L, None, Some("silver")),      // matched: bal null → unchanged
      (9L, Some(99L), None))           // unmatched: insert
      .toDF("id", "bal", "tier")
    val out = Merge.upsert(target, updates, "id")
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)),
        r.getAs[Long]("bal"), Option(r.getAs[String]("tier"))))).toMap
    assert(out(1L) === ((Some("alice"), 11L, Some("gold"))))
    assert(out(2L) === ((Some("bob"), 20L, Some("silver")))) // bal kept
    assert(out(3L) === ((Some("carol"), 30L, None)))         // carried
    assert(out(9L) === ((None, 99L, None)))                  // inserted
    assert(out.size === 4)
  }

  test("column order: target columns first, then update-only columns") {
    val target = Seq((1L, "x")).toDF("id", "a")
    val updates = Seq((1L, "y")).toDF("id", "b")
    assert(Merge.upsert(target, updates, "id").columns.toSeq ===
      Seq("id", "a", "b"))
  }

  test("missing key column fails loudly") {
    val target = Seq((1L, "x")).toDF("id", "a")
    val updates = Seq((1L, "y")).toDF("other", "b")
    intercept[IllegalArgumentException] {
      Merge.upsert(target, updates, "id")
    }
  }
}
