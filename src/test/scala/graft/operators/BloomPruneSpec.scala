package graft.operators

import graft.SparkSpec

/** GraphOps.buildBloom + pruneWithBloom — runtime-filter-style row
  * pruning exposed as an operator, for the join shapes Catalyst's
  * InjectRuntimeFilter cannot see across. */
class BloomPruneSpec extends SparkSpec {
  import spark.implicits._

  // 10k edge rows; only roots 0..49 survive the selective filter
  private def edges = (0L until 10000L)
    .map(i => (i, i % 1000L)).toDF("child_id", "root_id")
  private def roots = (0L until 50L).toDF("root_id")

  test("no false negatives: pruned output contains every true match") {
    val pruned = GraphOps.pruneWithBloom(edges, $"root_id",
      GraphOps.buildBloom(roots, $"root_id", expectedItems = 50))
    val expected = edges.join(roots, Seq("root_id"), "left_semi")
      .select($"child_id", $"root_id").as[(Long, Long)].collect().toSet
    val got = pruned.select($"child_id", $"root_id")
      .as[(Long, Long)].collect().toSet
    assert((expected -- got).isEmpty) // superset of the exact semi join
    assert(expected.size === 500)
    // at 1% fpp nearly all of the 9500 non-matching rows are dropped
    assert(got.size <= expected.size + 500, s"kept ${got.size}")
  }

  test("string keys work (both sides go through xxhash64)") {
    val e = Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)).toDF("k", "v")
    val b = Seq("b", "d").toDF("k")
    val kept = GraphOps.pruneWithBloom(e, $"k",
        GraphOps.buildBloom(b, $"k", expectedItems = 2))
      .select("k").as[String].collect().toSet
    assert(Set("b", "d").subsetOf(kept))
  }

  test("the probe is a scan-stage predicate: no join, no shuffle, no " +
      "broadcast in the pruned frame's plan") {
    // through parquet so ConvertToLocalRelation can't fold the filter away
    val dir = java.nio.file.Files.createTempDirectory("bloom").toString
    edges.write.mode("overwrite").parquet(dir)
    val pruned = GraphOps.pruneWithBloom(spark.read.parquet(dir), $"root_id",
      GraphOps.buildBloom(roots, $"root_id", expectedItems = 50))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"))
    assert(!plan.contains("Join"))
    assert(!plan.contains("Exchange"))
  }

  test("pruning before an exact join leaves the join result unchanged") {
    val direct = edges.join(roots, Seq("root_id")).as[(Long, Long)]
      .collect().toSet
    val viaBloom = GraphOps.pruneWithBloom(edges, $"root_id",
        GraphOps.buildBloom(roots, $"root_id", expectedItems = 50))
      .join(roots, Seq("root_id")).as[(Long, Long)].collect().toSet
    assert(viaBloom === direct)
  }
}
