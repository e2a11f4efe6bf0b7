package graft.functions

import graft.SparkSpec

class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def counts(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Triangles.perNode(pairs.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("K4: every node sits in C(3,2) = 3 triangles") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(counts(k4) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("a path has edges but no triangles — empty report") {
    assert(counts(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === Map.empty)
  }

  test("triangle + pendant bridge: only the cycle nodes count") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 9L))
    assert(counts(g) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("hub star closed by one rim edge finds exactly that triangle once") {
    // hub 1 connects to 2..6; the single rim edge (2, 3) closes one triangle
    val g = (2L to 6L).map(v => (1L, v)) :+ (2L, 3L)
    assert(counts(g) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("duplicate input edges do not double-count") {
    val g = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L))
    assert(counts(g) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("reversed edges are canonicalized; self-loops dropped") {
    val g = Seq((2L, 1L), (1L, 2L), (3L, 1L), (2L, 3L), (4L, 4L))
    assert(counts(g) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  private def kcore(pairs: Seq[(Long, Long)], k: Int,
                    rounds: Int): Map[Long, Long] =
    Triangles.kCorePeel(pairs.toDF("id_a", "id_b"), "id_a", "id_b", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("2-core peel dissolves a chain round by round") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    // round 1 drops endpoints, round 2 drops the middle edge
    assert(kcore(chain, k = 2, rounds = 1) === Map(2L -> 1L, 3L -> 1L))
    assert(kcore(chain, k = 2, rounds = 2) === Map.empty)
  }

  test("2-core keeps the cycle, sheds the pendant halo") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 9L), (9L, 10L))
    assert(kcore(g, k = 2, rounds = 3) ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("k = 1 keeps every non-isolated node") {
    val g = Seq((1L, 2L), (3L, 4L))
    assert(kcore(g, k = 1, rounds = 3) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  private def ktruss(pairs: Seq[(Long, Long)], k: Int,
                     rounds: Int): Map[(Long, Long), Long] =
    Triangles.kTrussPeel(pairs.toDF("id_a", "id_b"), "id_a", "id_b", k,
        rounds).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("edgeSupport: K4 edges each close 2 triangles; bridge closes 0") {
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 9L))
    val sup = Triangles.edgeSupport(
      g.toDF("a", "b").selectExpr("a AS u", "b AS v")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sup === Map((1L, 2L) -> 2L, (1L, 3L) -> 2L, (1L, 4L) -> 2L,
      (2L, 3L) -> 2L, (2L, 4L) -> 2L, (3L, 4L) -> 2L))
  }

  test("3-truss keeps the triangle, strips the bridge and chain in one " +
      "round — the edge-grain filter kcore cannot express") {
    // triangle {1,2,3} + bridge (3,9) + chain (9,10): the whole graph is
    // a 2-core-with-halo where kcore keeps 1,2,3 but the truss ALSO
    // certifies which EDGES are load-bearing
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 9L), (9L, 10L))
    assert(ktruss(g, k = 3, rounds = 1) ===
      Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
  }

  test("bounded peel needs the second round when a triangle dies with " +
      "the first peel") {
    // two triangles sharing edge (2,3), plus triangle {4,5,6} hanging on
    // 4 only via triangle-free edges — build: tri A {1,2,3}, tri B
    // {2,3,4}, and edge (4,7) pendant. Round 1 drops (4,7) only; no
    // second-round casualties here, so instead plant a cascade:
    // tri {1,2,3} + wedge edges (3,4),(4,5),(3,5) forming tri {3,4,5}
    // where (4,5) and (3,5) exist ONLY via that triangle and edge (5,6)
    // is triangle-free. Round 1 drops (5,6); both triangles survive
    // every round (all their edges have support 1).
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (5L, 6L))
    val r1 = ktruss(g, k = 3, rounds = 1)
    assert(r1.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (3L, 5L)))
    assert(ktruss(g, k = 3, rounds = 2) === r1)
  }

  test("4-truss demands support 2: K4 survives, a lone triangle does not") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val lone = Seq((11L, 12L), (11L, 13L), (12L, 13L))
    val got = ktruss(k4 ++ lone, k = 4, rounds = 2)
    assert(got.keySet === k4.toSet)
    assert(got.values.toSet === Set(2L))
  }

  test("on a random graph, node counts and edge supports both sum to 3 × " +
      "the triangles found by brute force") {
    val rnd = new scala.util.Random(17)
    val und = (for {
      a <- 0L until 24L; b <- (a + 1) until 24L if rnd.nextDouble() < 0.3
    } yield (a, b)).toSet
    val found = for {
      (a, b) <- und.toSeq; c <- (b + 1) until 24L
      if und((a, c)) && und((b, c))
    } yield Seq((a, b), (a, c), (b, c))
    val triangles = found.size
    // at this density many edges close several triangles
    assert(found.flatten.groupBy(identity).count(_._2.size >= 2) > 10)
    // perNode sees each edge twice, once reversed
    val pairs = und.toSeq.flatMap(e => Seq(e, e.swap))
    assert(counts(pairs).values.sum === 3L * triangles)
    val support = Triangles.edgeSupport(und.toSeq.toDF("u", "v"))
      .collect().map(_.getLong(2)).sum
    assert(support === 3L * triangles)
  }
}
