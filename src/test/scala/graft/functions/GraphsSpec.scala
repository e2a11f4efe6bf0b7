package graft.functions

import graft.SparkSpec

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  // path 1-2-3-4-5 plus isolated edge 8-9
  private def edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    .toDF("id_a", "id_b")

  test("bfsDistances: hop distances from the seed, bounded by rounds") {
    val seeds = Seq(1L).toDF("doc_id")
    val m = Graphs.bfsDistances(edges, "id_a", "id_b", seeds, "doc_id",
      rounds = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // node 5 is 4 hops out — beyond the bound; 8/9 unreachable
  }

  test("bfsDistances: minimal distance wins when paths merge; edgeless " +
      "seeds still appear at dist 0") {
    // triangle 1-2, 2-3, 1-3: node 3 is reachable in 1 hop, not 2
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val m = Graphs.bfsDistances(tri, "id_a", "id_b",
      Seq(1L, 42L).toDF("doc_id"), "doc_id", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 42L -> 0L))
  }

  test("localBridges: chain links are bridges, triangle edges are not, " +
      "the triangle-to-chain attachment edge is a bridge") {
    // triangle 1-2-3 plus a chain 3-4-5
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val got = Graphs.localBridges(g, "id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((3L, 4L), (4L, 5L)))
  }

  test("degreeHistogram: log2 buckets with reversed-duplicate edges " +
      "collapsed") {
    // star 1-{2,3,4} (deg 3 → bucket 2) + the reversed dup of one edge
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L)).toDF("id_a", "id_b")
    val m = Graphs.degreeHistogram(g, "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // leaves 2,3,4: degree 1 → bucket 1; hub 1: degree 3 → bucket 2
    assert(m === Map(1L -> ((3L, 1L, 1L)), 2L -> ((1L, 3L, 3L))))
  }
}
