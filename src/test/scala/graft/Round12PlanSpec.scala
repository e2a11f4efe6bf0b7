package graft

import org.apache.spark.sql.functions._

/** Round-12 pins: plan shapes for the incremental-LSH / selection /
  * reliability operators and the capped bitext miner — the properties
  * that make each of them the plan you would run at 100×. */
class Round12PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("dedup_lsh_delta: the pair emission is bucket-grouped — no " +
      "sort-merge self-join, no cartesian (sf0.001 has no hot buckets, " +
      "so AQE rightly erases the empty anti-join entirely)") {
    val plan = finalPlan(SparkEntry.queries("dedup_lsh_delta")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // in-bucket pairs come from ONE grouped collect, not a self-join of
    // the banded index with itself (no SortMergeJoin anywhere)
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("lshAppendCandidates hot-key guard: with a genuinely hot bucket " +
      "the over-cap keys arrive by BROADCAST anti-join, never a window") {
    // one hot bucket (key 7: 8 members > cap 2) AND one cold bucket
    // (key 9) — the survivor keeps the anti-join in the executed plan
    val old = spark.range(5).select(col("id").as("doc_id"),
        lit(0).as("band"), lit(7L).as("band_key"))
      .unionByName(spark.range(2).select(col("id").as("doc_id"),
        lit(1).as("band"), lit(9L).as("band_key")))
    val neu = spark.range(5, 8).select(col("id").as("doc_id"),
        lit(0).as("band"), lit(7L).as("band_key"))
      .unionByName(spark.range(8, 9).select(col("id").as("doc_id"),
        lit(1).as("band"), lit(9L).as("band_key")))
    val df = graft.functions.Dedup
      .lshAppendCandidates(old, neu, "doc_id", maxBucket = 3)
    val plan = finalPlan(df)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(3000))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("corpus_maxcover_select: each greedy round anti-joins the covered " +
      "set by BROADCAST — the posting index is never shuffled for it") {
    val docs = SparkEntry.queries("corpus_maxcover_select")(spark, dir)
    // the query's rounds already ran inside the call; pin the shape on a
    // directly-built round instead: posting vs a small covered frame
    import spark.implicits._
    val posting = Seq((1L, "a"), (1L, "b"), (2L, "b")).toDF("_id", "_s")
    val covered = Seq(Tuple1("b")).toDF("_s")
    val round = posting.join(broadcast(covered), Seq("_s"), "left_anti")
      .groupBy("_id").count()
    val plan = finalPlan(round)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(2000))
    assert(docs.count() > 0)
  }

  test("embedding_kcenter_select: per-round work is a literal-vector " +
      "expression on the scan — no join in any round's plan") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val seedVec = emb.orderBy(col("vec_id")).limit(1)
      .collect()(0).getSeq[Float](1)
    val round = emb.withColumn("mind",
      lit(1.0) - graft.functions.Similarity.dot(col("embedding"),
        typedLit(seedVec)) / lit(7.0))
    val plan = finalPlan(round)
    assert(!plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("pref_krippendorff_alpha: two hash aggregations over the " +
      "comparison stream — no window, no interpreted UDF") {
    val plan =
      finalPlan(SparkEntry.queries("pref_krippendorff_alpha")(spark, dir))
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    assert(!plan.toLowerCase.contains("scalaudf"), plan.take(2000))
  }

  test("corpus_bitext_mine: the corpus-side cap window partitions by " +
      "BUCKET (bounded groups), never a global single-reducer sort") {
    val plan = finalPlan(SparkEntry.queries("corpus_bitext_mine")(spark, dir))
    // the row_number cap rides a bucket hash-partitioning
    assert(plan.contains("hashpartitioning(bucket"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }
}
