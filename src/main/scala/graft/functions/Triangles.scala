package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-node triangle counting over an undirected pair graph (beyond-parity)
  * — the local-clustering signal that separates a tight near-duplicate
  * family (template + all its copies, pairwise-similar) from a chain of
  * transitive borderline matches. On the dedup candidate graph a node in
  * many triangles sits inside a dense family; a bridge node with edges but
  * no triangles is the false-positive shape worth auditing before a whole
  * component is collapsed.
  *
  * Algorithm: degree-ordered orientation (Suri & Vassilvitskii WWW'11) —
  * each undirected edge points from its lower-(degree, id) endpoint to the
  * higher one, so every wedge is enumerated at its lowest-degree apex and
  * a hub of degree d generates O(d) oriented out-edges spread over its
  * neighbors instead of O(d²) wedges at itself ("the curse of the last
  * reducer"). Each triangle is found exactly once: it has exactly one
  * vertex with out-edges to the other two in the orientation.
  *
  * Cost: two joins (wedge build on the oriented apex, wedge close against
  * the canonical edge set) + one explode/groupBy for per-node counts. The
  * input is a CANDIDATE pair frame (already bounded by the dedup caps) —
  * never the corpus. */
object Triangles {

  /** Per-node triangle participation counts over undirected edges.
    * Input edges are canonicalized defensively (lower id first, self-loops
    * dropped), so reversed duplicates cannot double-count. Output:
    * (node, n_triangles) for nodes in ≥ 1 triangle. */
  def perNode(pairs: DataFrame, idA: String, idB: String): DataFrame = {
    // the edge set feeds THREE consumers (degrees, orientation, the wedge-
    // closing join) — persist it or the upstream candidate pipeline runs
    // three times (the PageRank persist rule)
    val und = canonical(pairs, idA, idB)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    triangles(und)
      .select(explode(array(col("apex"), col("x"), col("y"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-EDGE triangle support over the canonical undirected edge set:
    * (u, v, support) for edges in ≥ 1 triangle. Same wedge enumeration
    * as [[perNode]], then each triangle credits its THREE edges in
    * canonical (min, max) form. */
  def edgeSupport(und: DataFrame): DataFrame = {
    val e = und.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = triangles(e)
      .select(explode(array(
        struct(least(col("apex"), col("x")).as("u"),
          greatest(col("apex"), col("x")).as("v")),
        struct(least(col("apex"), col("y")).as("u"),
          greatest(col("apex"), col("y")).as("v")),
        struct(col("x").as("u"), col("y").as("v")))).as("_t"))
      .select(col("_t.u").as("u"), col("_t.v").as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("support"))
    // eager checkpoint BEFORE the unpersist: the support frame must
    // materialize while the edge set is still cached (it feeds three
    // joins above), and the caller loops on it
    val sealed_ = out.localCheckpoint(true)
    e.unpersist(false)
    sealed_
  }

  /** The canonical undirected edge set (u, v) of a pair frame: lower id
    * first, self-loops dropped, each edge once. */
  private def canonical(pairs: DataFrame, idA: String,
                        idB: String): DataFrame = pairs
    .select(least(col(idA), col(idB)).as("u"),
      greatest(col(idA), col(idB)).as("v"))
    .filter(col("u") < col("v"))
    .distinct()

  /** Every triangle of the canonical edge set `und`, once, as its
    * lowest-(degree, id) vertex `apex` and the other two `x` < `y`:
    * degree-ordered orientation, wedges at the apex, each wedge closed
    * against `und`. `und` is read three times; callers cache it. */
  private def triangles(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("n").as("u"), col("d").as("_du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("_dv")), Seq("v"))
      .select(
        when(col("_du") < col("_dv") ||
          (col("_du") === col("_dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst")))
          .as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
    val wedges = oriented.as("a")
      .join(oriented.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.src").as("apex"), col("a.dst").as("x"),
        col("b.dst").as("y"))
    // the closing edge is looked up in CANONICAL orientation: x < y holds
    // by the wedge's own ordering
    wedges.join(und, wedges("x") === und("u") && wedges("y") === und("v"))
  }

  /** Bounded-round k-TRUSS peel (beyond-parity): `rounds` iterations of
    * "drop every edge in fewer than k−2 triangles, then recompute
    * support" — the EDGE-grain density filter one notch stricter than
    * [[kCorePeel]] (Cohen '08: every edge of a k-truss lies in ≥ k−2
    * triangles within the subgraph). On a dedup candidate graph the
    * 3-truss strips exactly the triangle-free bridge edges whose
    * transitive chains merge unrelated template families — the
    * edge-level version of the audit [[perNode]] does per node. Full
    * k-truss is the fixpoint; declared semantics is the bounded peel
    * (the [[kCorePeel]] / PageRank iters pattern), so an oracle can
    * unroll the same rounds. Per round: one wedge-enumeration support
    * count (two joins) + one semi-join keep, lineage truncated per
    * round. Output: the edges of the round-`rounds` subgraph that still
    * close ≥ 1 triangle there, with that residual support (an edge whose
    * support fell to 0 AFTER the last peel is absent — the recompute-
    * then-report convention [[kCorePeel]] uses for degrees). */
  def kTrussPeel(pairs: DataFrame, idA: String, idB: String,
                 k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, s"bad params k=$k rounds=$rounds")
    var edges = canonical(pairs, idA, idB).transform(Frames.truncate)
    for (_ <- 1 to rounds) {
      val keep = edgeSupport(edges).filter(col("support") >= k - 2)
        .select(col("u"), col("v"))
      edges = edges.join(keep, Seq("u", "v"), "left_semi")
        .transform(Frames.truncate)
    }
    edgeSupport(edges)
  }

  /** Bounded-round k-core peel (beyond-parity): `rounds` iterations of
    * "drop every node whose degree < k, then recompute degrees" — the
    * density filter that separates a genuine near-duplicate CORE from the
    * halo of borderline matches hanging off it (a chain node leaves the
    * 2-core in one round; a template family never does). Full k-core is
    * the fixpoint; the declared semantics here is the bounded peel (the
    * PageRank iters pattern), so the oracle can unroll the same rounds.
    *
    * Per round: one degree aggregation + two semi-joins, with
    * localCheckpoint truncating the per-round lineage. Output:
    * (node, degree) for nodes surviving round `rounds`, with their
    * residual degree. */
  def kCorePeel(pairs: DataFrame, idA: String, idB: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad params k=$k rounds=$rounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    var edges = canonical(pairs, idA, idB).transform(Frames.truncate)
    for (_ <- 1 to rounds) {
      val keep = degrees(edges).filter(col("degree") >= k)
        .select(col("node"))
      edges = edges
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .transform(Frames.truncate)
    }
    degrees(edges)
  }
}
