package graft.functions

import graft.SparkSpec

/** Common-neighbor link prediction: hand-checked wedges, existing edges
  * excluded, true-degree Jaccard, and the adjacency cap's screening
  * effect. */
class LinkPredictSpec extends SparkSpec {
  import spark.implicits._

  private def predict(edges: Seq[(String, String)], cap: Int = 64,
                      k: Int = 20) =
    Graphs.linkPredict(edges.toDF("src", "dst"), "src", "dst", cap, k)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap

  test("open triangle predicts the missing edge with exact jaccard") {
    // path a - b - c: only candidate is (a, c) via center b
    val got = predict(Seq(("a", "b"), ("b", "c")))
    assert(got.keySet === Set(("a", "c")))
    // cn = 1, deg(a) = deg(c) = 1 ⇒ jaccard = 1/(1+1-1) = 1
    assert(got(("a", "c")) === ((1L, 1L, 1L, 1000000L)))
  }

  test("existing edges never appear as predictions") {
    // triangle plus a pendant: candidates must exclude the closed edges
    val got = predict(Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")))
    assert(!got.contains(("a", "b")) && !got.contains(("a", "c")))
    // (a, d) and (b, d) share neighbor c
    assert(got.keySet === Set(("a", "d"), ("b", "d")))
    // cn = 1, deg(a) = 2, deg(d) = 1 ⇒ 1/(2+1-1) = 500000
    assert(got(("a", "d")) === ((1L, 2L, 1L, 500000L)))
  }

  test("two shared neighbors beat one and order the top-k") {
    // x and y share centers m1, m2; x and z share only m1
    val e = Seq(("x", "m1"), ("y", "m1"), ("x", "m2"), ("y", "m2"),
      ("z", "m1"))
    val got = predict(e)
    assert(got(("x", "y"))._1 === 2L)
    assert(got(("x", "z"))._1 === 1L)
    assert(got(("x", "y"))._4 > got(("x", "z"))._4)
  }

  test("the adjacency cap screens wedges from high-degree centers") {
    // hub center with 5 leaves: uncapped gives C(5,2) = 10 candidates;
    // cap 2 keeps only the 2 lexicographically first neighbors ⇒ 1 pair
    val star = (1 to 5).map(i => ("hub", s"l$i"))
    assert(predict(star).size === 10)
    val capped = predict(star, cap = 2)
    assert(capped.keySet === Set(("l1", "l2")))
    // true degrees still reported: deg(l1) = 1
    assert(capped(("l1", "l2")) === ((1L, 1L, 1L, 1000000L)))
  }

  test("bit-identical across partitionings") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"))
    val p1 = Graphs.linkPredict(e.toDF("src", "dst").repartition(1),
      "src", "dst", 64, 20).collect().toSeq
    val p2 = Graphs.linkPredict(e.toDF("src", "dst").repartition(5),
      "src", "dst", 64, 20).collect().toSeq
    assert(p1 === p2)
  }
}
