package graft.functions

import graft.SparkSpec

/** Max-normalized integer HITS: hand-checked fixed points, agreement with
  * an in-memory reference under identical floor semantics, and
  * bit-determinism across partitionings. */
class HitsSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(String, String)], iters: Int = 2) =
    PageRank.hits(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(String, Long, Long)].collect()
      .map { case (n, h, a) => n -> ((h, a)) }.toMap

  /** In-memory reference with the same u12 max-norm floor semantics. */
  private def ref(edges: Seq[(String, String)],
                  iters: Int): Map[String, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val one12 = BigInt("1000000000000")
    def norm(m: Map[String, BigInt]): Map[String, BigInt] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> v * one12 / mx }
    }
    var hub = nodes.map(_ -> one12).toMap
    var auth = Map.empty[String, BigInt]
    for (_ <- 0 until iters) {
      auth = norm(nodes.map(n =>
        n -> e.filter(_._2 == n).map(x => hub(x._1)).sum).toMap)
      hub = norm(nodes.map(n =>
        n -> e.filter(_._1 == n).map(x => auth(x._2)).sum).toMap)
    }
    nodes.map(n => n -> ((hub(n).toLong, auth(n).toLong))).toMap
  }

  test("directed star: center is the pure hub, leaves pure authorities") {
    val got = run(Seq(("hub", "a"), ("hub", "b"), ("hub", "c")))
    assert(got("hub") === ((1000000000000L, 0L)))
    assert(got("a") === ((0L, 1000000000000L)))
    assert(got("b") === got("a") && got("c") === got("a"))
  }

  test("chain reaches its fixed point") {
    val got = run(Seq(("a", "b"), ("b", "c")))
    assert(got("a") === ((1000000000000L, 0L)))
    assert(got("b") === ((1000000000000L, 1000000000000L)))
    assert(got("c") === ((0L, 1000000000000L)))
  }

  test("matches the in-memory reference on an irregular bipartite graph") {
    val e = Seq(("h1", "x"), ("h1", "y"), ("h1", "z"), ("h2", "y"),
      ("h2", "z"), ("x", "h2"), ("z", "h1"))
    assert(run(e) === ref(e, 2))
    assert(run(e, iters = 3) === ref(e, 3))
  }

  test("bit-identical across partitionings") {
    val e = Seq(("h1", "x"), ("h1", "y"), ("h2", "y"), ("y", "h1"))
    val a = PageRank.hits(e.toDF("src", "dst").repartition(1),
      "src", "dst", 2).orderBy("node").as[(String, Long, Long)].collect()
    val b = PageRank.hits(e.toDF("src", "dst").repartition(5),
      "src", "dst", 2).orderBy("node").as[(String, Long, Long)].collect()
    assert(a.toSeq === b.toSeq)
  }
}
