package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed PageRank over an edge frame (beyond-parity: the reference
  * walks its graph only along fixed ETL paths; a global centrality measure
  * needs the iterative formulation).
  *
  * Arithmetic is INTEGER fixed-point, not floating: ranks live in u12
  * units (10¹² per node initially) and every step is floor-division — sums
  * of integers are accumulation-order-independent, so results are
  * bit-identical across partitionings, re-runs, and engines. That is what
  * makes an iterative algorithm differentially testable at all (the same
  * trick as Sampling's ppm rates); fp PageRank would hash-flap on every
  * shuffle reordering. DECIMAL(38,0) carries the headroom: total mass is
  * N·10¹² — still exact at 10⁹ nodes (10²¹ ≪ 10³⁸).
  *
  * Each round is one equi-join of ranks onto edges (by source) plus one
  * aggregation by destination — the standard two-shuffle iteration; the
  * edge frame and degree frame are computed once and reused, and
  * `localCheckpoint` truncates the growing lineage per round (the
  * iterative-DataFrame rule used by Dedup's connected components). Hub
  * destinations are ordinary aggregation skew — AQE handles them the same
  * way as every other groupBy in this engine. */
object PageRank {

  private def intDiv(a: Column, b: Column): Column = {
    val ad = a.cast(DecimalType(38, 0))
    val bd = b.cast(DecimalType(38, 0))
    (ad - pmod(ad, bd)) / bd
  }

  /** Ranks after `iters` rounds over DIRECTED edges (undirected callers
    * union both orientations first — which also guarantees no dangling
    * nodes, required: every node must have outdegree ≥ 1).
    *
    * r₀(v) = 10¹²;  rₖ₊₁(v) = (100-dampingPct)·10¹⁰
    *                        + ⌊dampingPct · Σ_{u→v} ⌊rₖ(u)/outdeg(u)⌋ / 100⌋
    *
    * Output: (node, rank_u12) — bigint u12 units. */
  def run(edges: DataFrame, src: String, dst: String, iters: Int,
          dampingPct: Int = 85): DataFrame = {
    val teleport = lit((100L - dampingPct) * 10000000000L) // (1-d)·10¹² exact
      .cast(DecimalType(38, 0))
    iterate(edges.select(col(src).as("src"), col(dst).as("dst")), iters,
      dampingPct)(_ => (lit(1000000000000L).cast(DecimalType(38, 0)), teleport))
  }

  /** The iteration [[run]] and [[runPersonalized]] share, over (src, dst)
    * edges. `start` sees the node frame (one column, `node`) once the
    * edge and degree frames are cached, and returns r₀ and the teleport
    * term, both DECIMAL(38,0) columns over `node`. */
  private def iterate(srcDst: DataFrame, iters: Int, dampingPct: Int)(
      start: DataFrame => (Column, Column)): DataFrame = {
    require(iters >= 0 && dampingPct >= 0 && dampingPct <= 100,
      s"bad params iters=$iters dampingPct=$dampingPct")
    val e = srcDst.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both orientations present ⇒ every node occurs as a source
    val nodes = deg.select(col("src").as("node"))
    val (rank0, teleport) = start(nodes)
    var rank = nodes.withColumn("rank", rank0)
    for (i <- 0 until iters) {
      val inSum = rank
        .join(deg, rank("node") === deg("src"))
        .select(col("src"), intDiv(col("rank"), col("outdeg")).as("contrib"))
        .join(e, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("contrib")).as("in_sum"))
      rank = nodes.join(inSum, Seq("node"), "left")
        .select(col("node"),
          (teleport +
            intDiv(lit(dampingPct.toLong) *
              coalesce(col("in_sum"), lit(0).cast(DecimalType(38, 0))),
              lit(100L))).as("rank"))
      // lineage truncation is needed for DEEP iteration (the CC lesson:
      // plan nesting grows per round); every 4th round keeps planning
      // bounded without paying an eager materialization job per round
      if ((i + 1) % 4 == 0 && i + 1 < iters)
        rank = rank.transform(Frames.truncate)
    }
    // ONE eager materialization at the end (vs one per round): the final
    // ranks pin before the edge/degree caches release, so the returned
    // frame never re-derives them
    if (iters > 0) rank = rank.transform(Frames.truncate)
    val out = rank.select(col("node"), col("rank").cast("long").as("rank_u12"))
    e.unpersist(false)
    deg.unpersist(false)
    out
  }

  /** PERSONALIZED PageRank: the teleport mass lands only on the `seeds`
    * instead of uniformly — rank measures proximity to the seed set, the
    * crawl-frontier prioritizer ("how close is this domain to my trusted
    * domains") and the seed-expansion primitive behind TrustRank-style
    * spam demotion.
    *
    * Same integer fixed-point discipline as [[run]]; the total teleport
    * mass (100−d)%·N·10¹² splits equally over the |S| seeds in ONE exact
    * floor: ⌊(100−d)·10¹²·N / 100 / |S|⌋ (two nested integer divisions in
    * that order — oracles mirror it). N comes from one 1-row count of the
    * node frame (driver-side scalar, not a collect of data). Seeds absent
    * from the graph get no mass (documented; pass graph nodes). Non-seed
    * nodes start at 0 — r₀ is itself the teleport vector.
    *
    * Output: (node, rank_u12). */
  def runPersonalized(edges: DataFrame, src: String, dst: String,
                      iters: Int, seeds: Seq[String],
                      dampingPct: Int = 85): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs a seed set")
    iterate(edges.select(col(src).cast("string").as("src"),
      col(dst).cast("string").as("dst")), iters, dampingPct) { nodes =>
      val n = nodes.count()
      val seedTeleport =
        (BigInt(100 - dampingPct) * BigInt("1000000000000") * n / 100 /
          seeds.size).toLong
      val teleport = when(col("node").isin(seeds: _*), lit(seedTeleport))
        .otherwise(lit(0L)).cast(DecimalType(38, 0))
      (teleport, teleport)
    }
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over DIRECTED edges —
    * the companion centrality to PageRank for link graphs where pointing
    * WELL matters as much as being pointed at (crawl seed-list curation:
    * hubs are the directory pages worth re-crawling, authorities the
    * content worth keeping).
    *
    * Same integer fixed-point discipline as [[run]]: scores live in u12
    * units and each half-round is one equi-join + one aggregation. The
    * textbook L2 normalization is replaced by MAX normalization — after
    * each half-round scores rescale so the maximum is 10¹² via one 1-row
    * max aggregate broadcast back (⌊s·10¹²/max⌋, exact floor division in
    * DECIMAL(38,0)) — which preserves the ranking and the fixed point of
    * the iteration while keeping every quantity an exact integer (L2
    * needs a square root; max is closed under integers). Headroom: raw
    * sums are ≤ N·10¹², rescale multiplies by 10¹² → ≤ N·10²⁴ ≪ 10³⁸.
    *
    * h₀(u) = 10¹²;
    * aₖ(v) = norm(Σ_{u→v} hₖ₋₁(u));  hₖ(u) = norm(Σ_{u→v} aₖ(v)).
    *
    * Nodes with no in-edges get authority 0 (and symmetrically for hubs) —
    * the LEFT join against the node frame keeps them in the output.
    *
    * Output: (node, hub_u12, auth_u12). */
  def hits(edges: DataFrame, src: String, dst: String,
           iters: Int): DataFrame = {
    require(iters >= 1, s"bad iters=$iters")
    val e = edges.select(col(src).as("src"), col(dst).as("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val one12 = lit(1000000000000L).cast(DecimalType(38, 0))
    // rescale so max = 10¹²: one 1-row max, broadcast back
    def maxNorm(scored: DataFrame, c: String): DataFrame = {
      val mx = scored.agg(max(col(c)).as("_mx"))
      scored.crossJoin(broadcast(mx))
        .select(col("node"), intDiv(col(c) * one12, col("_mx")).as(c))
    }
    var hub = nodes.withColumn("hub", one12)
    var auth: DataFrame = null
    for (i <- 0 until iters) {
      val aRaw = hub.join(e, hub("node") === e("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("auth"))
      auth = maxNorm(
        nodes.join(aRaw, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("auth"), lit(0).cast(DecimalType(38, 0))).as("auth")),
        "auth")
      val hRaw = auth.join(e, auth("node") === e("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hub"))
      hub = maxNorm(
        nodes.join(hRaw, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("hub"), lit(0).cast(DecimalType(38, 0))).as("hub")),
        "hub")
      // truncate BOTH frames every round: auth_k is consumed by hub_k AND
      // by the final join, and hub_k by the next auth — without the
      // truncation those shared subtrees re-execute per consumer and the
      // plan doubles per round (measured 3.3 s → 9.1 s at iters = 2)
      hub = hub.transform(Frames.truncate)
      auth = auth.transform(Frames.truncate)
    }
    val out = hub.join(auth, "node")
      .select(col("node"), col("hub").cast("long").as("hub_u12"),
        col("auth").cast("long").as("auth_u12"))
      .transform(Frames.truncate)
    e.unpersist(false)
    nodes.unpersist(false)
    out
  }
}
