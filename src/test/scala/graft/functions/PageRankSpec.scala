package graft.functions

import graft.SparkSpec

/** Integer fixed-point PageRank: hand-checked small graphs, agreement with
  * an independent in-memory reference under identical floor semantics, and
  * bit-determinism across partitionings. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def undirected(pairs: (String, String)*) =
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")

  /** Reference implementation with the same u12/floor semantics. */
  private def ref(edges: Seq[(String, String)], iters: Int,
                  d: Long = 85L): Map[String, Long] = {
    val e = edges.distinct
    val out = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var r = nodes.map(_ -> BigInt("1000000000000")).toMap
    for (_ <- 0 until iters) {
      val in = scala.collection.mutable.Map.empty[String, BigInt]
        .withDefaultValue(BigInt(0))
      e.foreach { case (u, v) => in(v) += r(u) / out(u) }
      r = nodes.map(n =>
        n -> ((100 - d) * BigInt(10000000000L) + d * in(n) / 100)).toMap
    }
    r.map { case (k, v) => k -> v.toLong }
  }

  test("symmetric 2-cycle keeps every node at exactly 1e12") {
    val got = PageRank.run(undirected(("a", "b")), "src", "dst", iters = 4)
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 1000000000000L, "b" -> 1000000000000L))
  }

  test("undirected star concentrates rank on the hub") {
    val star = undirected(("hub", "l1"), ("hub", "l2"), ("hub", "l3"),
      ("hub", "l4"))
    val got = PageRank.run(star, "src", "dst", iters = 3)
      .as[(String, Long)].collect().toMap
    assert(got("hub") > got("l1"))
    assert(Seq("l1", "l2", "l3", "l4").map(got).distinct.size === 1)
    assert(got === ref(
      Seq(("hub", "l1"), ("hub", "l2"), ("hub", "l3"), ("hub", "l4"))
        .flatMap(p => Seq(p, p.swap)), 3))
  }

  test("matches the reference on a random-ish directed graph") {
    val edges = (0 until 60).map(i =>
      (s"n${i % 10}", s"n${(i * 7 + 3) % 10}")).distinct
      // self-loops are legal; ensure every node also has an out-edge
      .filter { case (a, b) => a != b }
    val all = edges ++ edges.map(_.swap) // both ways -> outdeg >= 1
    val got = PageRank.run(all.toDF("src", "dst"), "src", "dst", iters = 5)
      .as[(String, Long)].collect().toMap
    assert(got === ref(all, 5))
  }

  test("bit-identical across partitionings") {
    val e = undirected(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"),
      ("a", "c"))
    val r1 = PageRank.run(e.repartition(1), "src", "dst", 4)
      .as[(String, Long)].collect().toMap
    val r8 = PageRank.run(e.repartition(8), "src", "dst", 4)
      .as[(String, Long)].collect().toMap
    assert(r1 === r8)
  }

  test("iters = 0 returns the uniform initial ranks") {
    val got = PageRank.run(undirected(("x", "y")), "src", "dst", 0)
      .as[(String, Long)].collect().toMap
    assert(got.values.toSet === Set(1000000000000L))
  }

  test("personalized: teleport mass lands only on seeds, proximity " +
      "decays along the directed cycle, unreachable nodes stay at zero") {
    import spark.implicits._
    // directed cycle a -> b -> c -> a plus an isolated 2-cycle x <-> y
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "x"))
      .toDF("src", "dst")
    val got = PageRank.runPersonalized(e, "src", "dst", iters = 3,
        seeds = Seq("a"))
      .as[(String, Long)].collect().toMap
    // r0 is the teleport vector: only a holds mass; 3 rounds push it one
    // hop per round, decaying by the damping factor — and the component
    // not reachable from the seed gets NOTHING
    assert(got("a") > got("b") && got("b") > got("c") && got("c") > 0L)
    assert(got("x") === 0L && got("y") === 0L)
    // a keeps at least its own teleport share: (15%·N·10¹²)/1, N = 5
    assert(got("a") >= 15L * 1000000000000L * 5 / 100)
    // deterministic under repartitioning
    val again = PageRank.runPersonalized(e.repartition(7), "src", "dst",
        iters = 3, seeds = Seq("a"))
      .as[(String, Long)].collect().toMap
    assert(again === got)
  }

  test("personalized: iters = 0 IS the teleport vector with the exact " +
      "per-seed integer share") {
    val e = undirected(("a", "b"), ("b", "c"), ("c", "d"))
    val got = PageRank.runPersonalized(e, "src", "dst", iters = 0,
        seeds = Seq("a", "c"))
      .as[(String, Long)].collect().toMap
    // (15% · 4 nodes · 10¹²) / 2 seeds, floored once per division
    val share = 15L * 1000000000000L * 4 / 100 / 2
    assert(got === Map("a" -> share, "b" -> 0L, "c" -> share, "d" -> 0L))
  }

  test("personalized: bit-identical across partitionings") {
    val e = undirected(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"),
      ("a", "c"), ("d", "e"))
    // five rounds: the every-4th-round truncation runs once mid-loop
    def ppr(parts: Int) = PageRank.runPersonalized(e.repartition(parts),
        "src", "dst", iters = 5, seeds = Seq("a", "e"))
      .as[(String, Long)].collect().toMap
    assert(ppr(1) === ppr(8))
  }
}
