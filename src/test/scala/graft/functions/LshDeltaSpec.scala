package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental LSH candidate generation ([[Dedup.lshAppendCandidates]]):
  * the append run must emit EXACTLY the rebuild's pairs that touch the new
  * snapshot — same merged-index hot-bucket caps, never re-pairing the old
  * corpus — so rebuild ≡ within-old ⊎ append is an exact disjoint
  * partition. Synthetic band frames isolate the cap semantics (a minhash
  * corpus cannot place a bucket's size on both sides of the cap at will);
  * the real-corpus test closes the loop through signatures + banding. */
class LshDeltaSpec extends SparkSpec {
  import spark.implicits._

  test("append = rebuild's new-touching pairs; the partition is exact") {
    val old = Seq((1L, 0, 100L), (2L, 0, 100L), (3L, 0, 100L), (4L, 0, 100L),
        (1L, 1, 200L), (2L, 1, 200L))
      .toDF("doc_id", "band", "band_key")
    val neu = Seq((5L, 0, 100L), (6L, 0, 100L), (5L, 1, 300L))
      .toDF("doc_id", "band", "band_key")
    val delta = Dedup.lshAppendCandidates(old, neu, "doc_id")
      .as[(Long, Long)].collect().toSet
    val rebuilt = Dedup.lshCandidates(old.unionByName(neu), "doc_id")
      .as[(Long, Long)].collect().toSet
    val newIds = Set(5L, 6L)
    assert(delta === rebuilt.filter(p => newIds(p._1) || newIds(p._2)))
    // old x new AND new x new pairs present; the old-only (1,2) bucket
    // pair is NOT re-emitted
    assert(delta.contains((1L, 5L)) && delta.contains((5L, 6L)))
    assert(!delta.contains((1L, 2L)))
    val withinOld = rebuilt -- delta
    assert(withinOld.forall(p => !newIds(p._1) && !newIds(p._2)))
    assert((withinOld ++ delta) === rebuilt)
  }

  test("hot-bucket cap is taken on the MERGED index, not per snapshot") {
    // 600 old + 600 new members in one bucket, cap 1000: each snapshot
    // alone is under the cap, the merged bucket is over it — the rebuild
    // drops the bucket entirely, so the append must emit NOTHING (a
    // per-snapshot cap would emit 600x600 cross pairs the rebuild lacks)
    val old = spark.range(600).select(col("id").as("doc_id"),
      lit(0).as("band"), lit(7L).as("band_key"))
    val neu = spark.range(600, 1200).select(col("id").as("doc_id"),
      lit(0).as("band"), lit(7L).as("band_key"))
    assert(Dedup.lshAppendCandidates(old, neu, "doc_id").isEmpty)
    assert(Dedup.lshCandidates(old.unionByName(neu), "doc_id").isEmpty)
    // and a merged bucket UNDER the cap pairs normally across snapshots
    val small = Dedup.lshAppendCandidates(
      spark.range(3).select(col("id").as("doc_id"), lit(0).as("band"),
        lit(9L).as("band_key")),
      spark.range(3, 5).select(col("id").as("doc_id"), lit(0).as("band"),
        lit(9L).as("band_key")), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(small === Set((0L, 3L), (0L, 4L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("re-ingested ids: last-write-wins, no degenerate self-pairs, no " +
      "double cap counting") {
    // id 3 appears in BOTH the old state and the new snapshot (the
    // re-crawl case): its old rows must be REPLACED, never paired with
    // its own new rows
    val old = Seq((1L, 0, 100L), (2L, 0, 100L), (3L, 0, 100L))
      .toDF("doc_id", "band", "band_key")
    val neu = Seq((3L, 0, 100L), (3L, 1, 999L), (4L, 0, 100L))
      .toDF("doc_id", "band", "band_key")
    val delta = Dedup.lshAppendCandidates(old, neu, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(delta.forall(p => p._1 != p._2), delta)
    assert(delta === Set((1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L)))
    // cap counting: 2 old-only + 2 overlapping-new in one bucket with
    // cap 3 — counting the overlapped id twice would read 4 > cap and
    // wrongly drop the bucket; last-write-wins keeps it at 3
    val old2 = Seq((1L, 0, 5L), (2L, 0, 5L), (9L, 0, 5L))
      .toDF("doc_id", "band", "band_key")
    val neu2 = Seq((9L, 0, 5L)).toDF("doc_id", "band", "band_key")
    val d2 = Dedup.lshAppendCandidates(old2, neu2, "doc_id", maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    assert(d2 === Set((1L, 9L), (2L, 9L)))
  }

  test("real corpus end-to-end: append equals the filtered rebuild") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextFunctions.wordShingles(col("text"), 3).as("sh"))
    val bucket = Sampling.stableBucket(col("doc_id"))
    def banded(d: org.apache.spark.sql.DataFrame) = Dedup.lshBands(
      Dedup.minhashSignatures(d, "doc_id", "sh", 64),
      "doc_id", "sig", bands = 16, rowsPerBand = 4)
    val oldB = banded(docs.filter(bucket < 80))
    val newB = banded(docs.filter(bucket >= 80))
    val delta = Dedup.lshAppendCandidates(oldB, newB, "doc_id")
      .as[(Long, Long)].collect().toSet
    val rebuilt = Dedup.lshCandidates(oldB.unionByName(newB), "doc_id")
      .as[(Long, Long)].collect().toSet
    val newIds = docs.filter(bucket >= 80).select("doc_id")
      .as[Long].collect().toSet
    assert(delta === rebuilt.filter(p => newIds(p._1) || newIds(p._2)))
    assert(delta.nonEmpty) // the fixture plants near-dups across the split
  }

  test("DELETE: resurfaced pairs close the rebuild partition — an " +
      "over-cap bucket falling back under the cap re-emits its " +
      "survivors' pairs, nothing else") {
    // bucket 100: 5 members (over cap 3) — deleting ids 4,5 drops it to
    // 3 (within cap) → pairs among {1,2,3} RESURFACE. bucket 200:
    // 3 members (within cap before and after a non-member delete) —
    // never re-emitted. bucket 300: 4 members losing 3 → 1 survivor, no
    // pair. cap = 3 throughout.
    val state = Seq(
      (1L, 0, 100L), (2L, 0, 100L), (3L, 0, 100L), (4L, 0, 100L), (5L, 0, 100L),
      (1L, 1, 200L), (2L, 1, 200L), (6L, 1, 200L),
      (4L, 2, 300L), (5L, 2, 300L), (7L, 2, 300L), (8L, 2, 300L))
      .toDF("doc_id", "band", "band_key")
    val deleted = Seq(4L, 5L, 7L).toDF("doc_id")
    val resurfaced = Dedup.lshDeleteCandidates(state, deleted, "doc_id",
        maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    assert(resurfaced === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // the contract: rebuild-on-survivors ≡ (previously emitted pairs
    // restricted to survivors) ⊎ resurfaced
    val remaining = state.join(deleted, Seq("doc_id"), "left_anti")
    val rebuilt = Dedup.lshCandidates(remaining, "doc_id", maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    val previous = Dedup.lshCandidates(state, "doc_id", maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    val gone = Set(4L, 5L, 7L)
    val restricted = previous.filter(p => !gone(p._1) && !gone(p._2))
    assert(rebuilt === restricted ++ resurfaced)
  }
}
