package graft

import org.apache.spark.sql.functions._

/** Round-13 pins. The selection-operator tests capture the plans of the
  * OPERATORS' OWN executed rounds through a QueryExecutionListener (the
  * round-12 advice: hand-built stand-in rounds can't catch a shape
  * regression inside the real loop — e.g. the covered-set anti-join
  * losing its broadcast), then assert on every captured round. */
class Round13PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docsShingled = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"),
      graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))

  test("maxCoverSelect's OWN executed rounds: the covered-set anti-join " +
      "is BROADCAST in every round that has one; no round ever " +
      "sort-merges or goes cartesian") {
    val plans = capturePlans {
      graft.functions.Sampling
        .maxCoverSelect(docsShingled, "doc_id", "sh", k = 4).collect()
    }
    assert(plans.nonEmpty)
    plans.foreach { p =>
      assert(!p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("CartesianProduct"), p.take(2000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    }
    // rounds 2+ carry a non-empty covered set: the anti-join must be
    // present AND broadcast in at least one captured round (round 1's
    // empty covered frame is legitimately erased by AQE)
    val anti = plans.filter(p => p.contains("LeftAnti"))
    assert(anti.nonEmpty, plans.map(_.take(200)).mkString("\n---\n"))
    anti.foreach(p => assert(p.contains("BroadcastHashJoin"), p.take(3000)))
  }

  test("CELF's OWN executed probes and refills keep the exact operator's " +
      "shape: broadcast anti-joins only, no sort-merge, no cartesian") {
    val plans = capturePlans {
      graft.functions.Sampling
        .maxCoverSelectCelf(docsShingled, "doc_id", "sh", k = 4).collect()
    }
    assert(plans.nonEmpty)
    plans.foreach { p =>
      assert(!p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("CartesianProduct"), p.take(2000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    }
    val anti = plans.filter(p => p.contains("LeftAnti"))
    assert(anti.nonEmpty)
    anti.foreach(p => assert(p.contains("BroadcastHashJoin"), p.take(3000)))
  }

  test("kCenterSelect's OWN executed rounds: literal-vector scans and " +
      "TakeOrdered argmaxes — no join, no shuffle exchange in ANY round") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val plans = capturePlans {
      graft.functions.Similarity
        .kCenterSelect(emb, "vec_id", "embedding", k = 4).collect()
    }
    assert(plans.nonEmpty)
    // drop the final 4-row result assembly (spark.range unions — driver
    // bookkeeping, not round work)
    val rounds = plans.filterNot(_.contains("Range (0, 1"))
    assert(rounds.nonEmpty)
    rounds.foreach { p =>
      assert(!p.contains("Join"), p.take(2000))
      assert(!p.contains("Exchange"), p.take(2000))
    }
    assert(rounds.exists(_.contains("TakeOrderedAndProject")))
  }

  test("kCenterSelectBatched rounds keep the same join-free shape with " +
      "one update scan per BATCH") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val plans = capturePlans {
      graft.functions.Similarity
        .kCenterSelect(emb, "vec_id", "embedding", k = 5, batch = 2)
        .collect()
    }
    val rounds = plans.filterNot(_.contains("Range (0, 1"))
    assert(rounds.nonEmpty)
    rounds.foreach { p =>
      assert(!p.contains("Join"), p.take(2000))
      assert(!p.contains("Exchange"), p.take(2000))
    }
  }

  test("lshDeleteCandidates: crossing buckets arrive by BROADCAST " +
      "semi-join; the pair emission is bucket-grouped (no self-join)") {
    import spark.implicits._
    val state = (1L to 5L).map(i => (i, 0, 100L)) ++
      Seq((1L, 1, 200L), (2L, 1, 200L), (6L, 1, 200L))
    val df = graft.functions.Dedup.lshDeleteCandidates(
      state.toDF("doc_id", "band", "band_key"),
      Seq(4L, 5L).toDF("doc_id"), "doc_id", maxBucket = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("deleteFromGroupsState: the keep-repair is a BROADCAST semi-join " +
      "against the affected fingerprints only — the survivor scan is " +
      "never shuffled for it") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bucket = graft.functions.Sampling.stableBucket(col("doc_id"))
    val df = graft.functions.Dedup.deleteFromGroupsState(
      graft.functions.Dedup.exactGroupsState(docs, "doc_id", "text"),
      docs.filter(bucket >= 80), "doc_id", "text",
      docs.filter(bucket < 80))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("bpe encodeWords: one narrow mapPartitions pass — no shuffle, no " +
      "per-merge stages") {
    val words = graft.functions.Bpe.wordCounts(
      spark.read.parquet(s"$dir/documents.parquet"), col("text"))
      .localCheckpoint(true)
    val merges = graft.functions.Bpe
      .trainLocal(words, "word", "freq", numMerges = 10)
    val df = graft.functions.Bpe.encodeWords(words, "word", merges)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(plan.contains("MapPartitions") || plan.contains("mapPartitions"),
      plan.take(2000))
  }
}
