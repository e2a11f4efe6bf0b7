package graft

/** Round-11 pins: plan shapes for the preference / posting-cost queries
  * and the tamper-evidence property of the Merkle release artifact. */
class Round11PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("pref_bt_scores: every MM iteration joins scores by BROADCAST — " +
      "the pair frame is never shuffle-joined, no cartesian anywhere") {
    val df = SparkEntry.queries("pref_bt_scores")(spark, dir)
    val plan = finalPlan(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("text_posting_costs: gap window and cost aggregate share one " +
      "term partitioning — no join of any kind in the plan") {
    val df = SparkEntry.queries("text_posting_costs")(spark, dir)
    val plan = finalPlan(df)
    assert(plan.contains("hashpartitioning(term"), plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
    // the γ-bit cost is pure integer expression work — nothing interpreted
    assert(!plan.toLowerCase.contains("scalaudf"), plan.take(2000))
  }

  test("corpus_merkle_root: the pairing rounds are plain hash " +
      "aggregates — no join, rows shrink by half each level") {
    val df = SparkEntry.queries("corpus_merkle_root")(spark, dir)
    val plan = finalPlan(df)
    assert(!plan.contains("Join"), plan.take(2000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("merkle root is tamper-evident and locally repairable: editing one " +
      "doc changes ONLY its source's root; counts stay put") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("merkle").toString
    def write(mutate: Boolean): Unit =
      (0L until 64L).map { i =>
        val text = if (mutate && i == 17L) "tampered words here"
        else s"clean words number ${i % 7}"
        (i, s"src_${i % 4}", text)
      }.toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    write(mutate = false)
    val before = SparkEntry.queries("corpus_merkle_root")(spark, tmp)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    write(mutate = true)
    val after = SparkEntry.queries("corpus_merkle_root")(spark, tmp)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2)))
      .toMap

    assert(before.keySet === after.keySet)
    val victim = "src_1" // 17 % 4
    assert(before(victim)._2 !== after(victim)._2, "tamper must surface")
    (before.keySet - victim).foreach { s =>
      assert(before(s) === after(s), s"untouched source $s must be stable")
    }
    assert(before.values.map(_._1).sum === 64L)
    assert(after.values.map(_._1).sum === 64L)
  }
}
