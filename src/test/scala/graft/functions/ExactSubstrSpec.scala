package graft.functions

import graft.SparkSpec

/** Exact substring-duplication runs (Lee et al. ExactSubstr semantics):
  * exact extents the windowed report cannot see, intra-document repeats,
  * union-of-coverage merging, and no false sharing on near-miss text. */
class ExactSubstrSpec extends SparkSpec {
  import spark.implicits._

  private def runsOf(docs: org.apache.spark.sql.DataFrame) =
    Dedup.exactSubstrRuns(docs, "doc_id", "text", minLen = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("a planted 12-token shared span reports its exact extent — the " +
      "windowed path sees 8 window hits but no length") {
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $span tail1 tail2"),
      (2L, s"$span other words here")).toDF("doc_id", "text")
    // span occupies tokens [3,14] of doc 1: fully-contained window
    // starts 3..10 → one island, run_start 3, exact run_len 12
    assert(runsOf(docs) ===
      Set((1L, 3L, 12L, 8L), (2L, 0L, 12L, 8L)))
    // the approximate report only counts the same 8 windows — the
    // 12-token extent is invisible to it
    val approx = Dedup.substringDupReport(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_shared")).toMap
    assert(approx(1L) === 8L)
  }

  test("intra-document verbatim repeats count (corpus occurrences, not " +
      "doc frequency) — the windowed report misses them") {
    val docs = Seq(
      (1L, "a b c d e x y z a b c d e")).toDF("doc_id", "text")
    assert(runsOf(docs) === Set((1L, 0L, 5L, 1L), (1L, 8L, 5L, 1L)))
    val approx = Dedup.substringDupReport(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getAs[Long]("n_shared")).sum
    assert(approx === 0L) // df counts DOCS, so the repeat is invisible
  }

  test("touching spans shared with DIFFERENT partners merge into one " +
      "union-coverage run") {
    val c1 = (1 to 10).map(i => s"c$i").mkString(" ")
    val d1 = (1 to 8).map(i => s"d$i").mkString(" ")
    val docs = Seq(
      (1L, s"$c1 $d1"),             // both spans, back to back
      (2L, s"a1 a2 $c1 a3 a4"),     // shares only c-span
      (3L, s"$d1 b1 b2 b3")).toDF("doc_id", "text")
    // doc 1: c-windows start 0..5, d-windows start 10..13; the start gap
    // 5 ≤ minLen means the covered intervals [0,9] and [10,17] touch →
    // ONE run of length 18 (the ExactSubstr removal unit is the union)
    assert(runsOf(docs) === Set(
      (1L, 0L, 18L, 10L),
      (2L, 2L, 10L, 6L),
      (3L, 0L, 8L, 4L)))
  }

  test("a single differing token breaks sharing — no false runs") {
    val docs = Seq(
      (1L, "u1 u2 u3 u4 u5 u6"),
      (2L, "u1 u2 xx u4 u5 u6")).toDF("doc_id", "text")
    assert(runsOf(docs).isEmpty)
  }
}
