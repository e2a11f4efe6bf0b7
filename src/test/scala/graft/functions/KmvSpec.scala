package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** KMV bottom-k sketches ([[Kmv]]): exactness under-full, estimator
  * accuracy at k=256, the lossless merge law (bottom-k of a union ==
  * merge of bottom-k's — EXACT, not approximate), and intersection
  * estimates on planted overlaps. */
class KmvSpec extends SparkSpec {
  import spark.implicits._

  private def terms(g: String, n: Int, tag: String) =
    (0 until n).map(i => (g, s"$tag$i"))

  private def estimates(sketches: org.apache.spark.sql.DataFrame) =
    sketches.select(col("g"), Kmv.estimateCol(col("kmv"), col("k")))
      .as[(String, Long)].collect().toMap

  test("under-full sketch is exact: estimate == true distinct count") {
    val df = (terms("a", 40, "t") ++ terms("a", 40, "t")).toDF("g", "term")
    val est = estimates(Kmv.sketch(df, "term", Seq("g"), 256))
    assert(est("a") === 40L)
  }

  test("full sketch estimates within 15% at k=256 on 10k distinct") {
    val df = terms("a", 10000, "x").toDF("g", "term")
    val est = estimates(Kmv.sketch(df, "term", Seq("g"), 256))
    assert(math.abs(est("a") - 10000L) < 1500L,
      s"estimate ${est("a")} off by more than 15%")
  }

  test("merge law is EXACT: sketch(A ∪ B) == merge(sketch(A), sketch(B)) " +
      "— per-shard sketches roll up losslessly") {
    val a = terms("s", 700, "a") ++ terms("s", 300, "shared")
    val b = terms("s", 700, "b") ++ terms("s", 300, "shared")
    val skA = Kmv.sketch(a.toDF("g", "term"), "term", Seq("g"), 128)
      .select(col("g"), col("kmv").as("kva"))
    val skB = Kmv.sketch(b.toDF("g", "term"), "term", Seq("g"), 128)
      .select(col("g"), col("kmv").as("kvb"))
    val merged = skA.join(skB, "g")
      .select(Kmv.mergeCol(col("kva"), col("kvb"), lit(128)).as("kmv"))
      .as[Seq[Long]].collect().head
    val rebuilt = Kmv.sketch((a ++ b).toDF("g", "term"), "term",
        Seq("g"), 128)
      .select(col("kmv")).as[Seq[Long]].collect().head
    assert(merged === rebuilt)
  }

  test("intersection estimates: disjoint sources read ~0, half-overlap " +
      "reads near the planted truth") {
    val df = (terms("a", 2000, "common") ++ terms("a", 2000, "onlya") ++
      terms("b", 2000, "common") ++ terms("b", 2000, "onlyb") ++
      terms("c", 2000, "onlyc")).toDF("g", "term")
    val sk = Kmv.sketch(df, "term", Seq("g"), 256)
    val est = Kmv.intersectEstimates(sk, "g")
      .select(col("ga"), col("gb"), col("est_intersect"), col("jaccard_ppm"))
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // a ∩ b = 2000 of |a ∪ b| = 6000 -> jaccard 1/3
    val (abInt, abJac) = est(("a", "b"))
    assert(math.abs(abInt - 2000L) < 600L, s"a∩b read $abInt")
    assert(math.abs(abJac - 333333L) < 80000L, s"a∩b jaccard $abJac")
    // c is disjoint from both
    val (acInt, _) = est(("a", "c"))
    assert(acInt < 200L, s"a∩c read $acInt, planted 0")
  }

  test("estimator handles the n_distinct < k boundary inside " +
      "intersections: tiny sources stay exact") {
    val df = (terms("a", 30, "s") ++ terms("b", 30, "s")).toDF("g", "term")
    val got = Kmv.intersectEstimates(
        Kmv.sketch(df, "term", Seq("g"), 256), "g")
      .select(col("est_union"), col("n_common"), col("est_intersect"),
        col("jaccard_ppm"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(got === ((30L, 30L, 30L, 1000000L)))
  }
}
