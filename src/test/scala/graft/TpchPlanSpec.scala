package graft

/** Plan audits for the classic TPC-H join shapes: at warehouse scale the
  * difference between a broadcast dim join and a shuffled one is the whole
  * query, so the snowflake probes pin the physical strategy, not just the
  * rows. Runs against the sf0.001 driver testdata (smallest tier). */
class TpchPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q5: every dimension side broadcasts — no sort-merge join anywhere " +
      "in the snowflake") {
    val df = SparkEntry.queries("q5_local_volume")(spark, dir)
    df.collect() // AQE finalizes the physical plan on execution
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4, plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("q18: the HAVING subquery executes as a join against the " +
      "aggregated orderkeys, not a per-row subquery") {
    val df = SparkEntry.queries("q18_large_orders")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Join"), plan.take(2000))
    // top-k is a TakeOrdered, never a global sort of the joined fact
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q10: top-20 runs as TakeOrderedAndProject with the total " +
      "tie-break order") {
    val df = SparkEntry.queries("q10_returned")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q13: the exclusion filter stays in the outer join (zero-order " +
      "customers survive) and the join is hash, not nested-loop") {
    val df = SparkEntry.queries("q13_order_dist")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftOuter"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q17: the correlated per-part average decorrelates into an " +
      "aggregate + join — no nested-loop, no cartesian") {
    val df = SparkEntry.queries("q17_small_qty")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the decorrelated per-part avg is its OWN aggregate pair feeding a
    // join, on top of the outer query's final aggregate pair — a single
    // aggregate in the plan would mean the correlation collapsed into
    // something else entirely
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan.take(2000))
    assert(plan.contains("avg("), plan.take(2000))
  }

  test("q21: EXISTS plans as a hash LeftSemi and NOT EXISTS as a hash " +
      "LeftAnti against the same fact") {
    val df = SparkEntry.queries("q21_sole_return")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q2: the correlated per-part min decorrelates (no nested-loop, " +
      "no cartesian) and the top-20 is a TakeOrdered") {
    val df = SparkEntry.queries("q2_min_cost_supplier")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q20: both IN subqueries plan as hash LeftSemi joins with the " +
      "HAVING aggregate below the outer one") {
    val df = SparkEntry.queries("q20_excess_stock")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("LeftSemi".r.findAllIn(plan).size >= 2, plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q16: NOT IN plans as a broadcast null-aware anti join, not a " +
      "nested loop") {
    val df = SparkEntry.queries("q16_supplier_count")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q22: the dormancy NOT EXISTS plans as a hash LeftAnti; the " +
      "average gate is a one-shot scalar subquery, not a per-row loop") {
    val df = SparkEntry.queries("q22_dormant_customers")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }
}
