package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-column health profiling (beyond-parity): the monitoring pass
  * a vector pipeline runs before trusting a new embedding batch — dead or
  * collapsed dimensions, per-dimension drift, exploded scales.
  *
  * Everything is integer-exact: components quantize to micro-units
  * (`round(x·10⁶)` — float→double widening is exact and the rounded
  * product is engine-identical), sums ride DECIMAL(38,0) (order-free, no
  * fp accumulation drift), and derived moments are floor divisions. So
  * the profile hash-matches any other engine and is invariant to
  * partitioning / speculative re-execution.
  *
  * Scale: one posexplode (rows × dims) feeding one hash aggregate with
  * `dims` groups — partial aggregation collapses every task to ≤ dims
  * partial rows, so the shuffle moves O(tasks · dims) tiny rows no matter
  * the corpus size. No window, no join, no driver state. */
object Embeddings {

  /** Per-dimension moments: (dim, n, mean_us, var_us2, min_us, max_us,
    * n_zero). `var_us2` is the population variance in (micro-unit)² —
    * computed as (n·Σx² − (Σx)²) div n², entirely in DECIMAL so the
    * squared sums cannot overflow or round. A dimension with
    * `var_us2 = 0` is dead; `n_zero = n` means it is exactly zero. */
  def dimStats(df: DataFrame, vecCol: String): DataFrame = {
    val vUs = round(col("_v").cast("double") * lit(1000000d), 0)
      .cast("long")
    val expl = df
      .select(posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .select(col("dim").cast("long").as("dim"), vUs.as("v_us"))
    val dec = col("v_us").cast("decimal(38,0)")
    val agg = expl.groupBy(col("dim")).agg(
      count(lit(1)).as("n"),
      sum(dec).as("_s"),
      sum(dec * col("v_us")).as("_sq"),
      min(col("v_us")).as("min_us"),
      max(col("v_us")).as("max_us"),
      count(when(col("v_us") === 0, 1)).as("n_zero"))
    val n = col("n").cast("decimal(38,0)")
    agg.select(
      col("dim"), col("n"),
      Sampling.intDiv(col("_s"), n).as("mean_us"),
      Sampling.intDiv(n * col("_sq") - col("_s") * col("_s"), n * n)
        .as("var_us2"),
      col("min_us"), col("max_us"), col("n_zero"))
  }

  /** Fully-DISTRIBUTED bounded-round Lloyd k-means in exact integer
    * arithmetic — the engine-exact complement of `Ivf.train` (which runs
    * Lloyd driver-locally on a capped sample): here every pass is a
    * DataFrame job over the whole corpus, so it scales past any driver
    * sample cap, and because every quantity is a micro-unit integer
    * (floor-mean centroids, exact µ² distances, (dist, cell) argmin
    * tie-break) the entire trajectory — not just the final loss — is
    * bit-reproducible on any engine or partitioning, making an iterative
    * ML trainer differentially testable end-to-end.
    *
    * Seeds are the k lowest-id vectors (SQL-recomputable by design, the
    * anchor-centroid rule). Per round: one assignment pass (rows×dims×k
    * product rows — Lloyd's true O(n·k·d) cost — collapsing map-side to
    * per-(id,cell) partials) and one floor-mean centroid update; the
    * report is the final assignment's per-cell size and exact inertia.
    * Per-round localCheckpoint (the iterative-lineage rule); centroid
    * frames are k·dims rows, broadcast into every join. */
  def kmeansExact(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, rounds: Int): DataFrame = {
    val vUs = round(col("_v").cast("double") * lit(1000000d), 0)
      .cast("long")
    val expl = df
      .select(col(idCol).as("_id"), posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .select(col("_id"), col("dim").cast("long").as("dim"), vUs.as("v_us"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seedIds = df.select(col(idCol).as("_id")).orderBy(col("_id"))
      .limit(k)
      .withColumn("cell",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("_id"))).cast("long") - 1)
    var cents = expl.join(broadcast(seedIds), Seq("_id"))
      .select(col("cell"), col("dim"), col("v_us").as("c_us"))
      .transform(Frames.truncate)
    def assign(c: org.apache.spark.sql.DataFrame) = {
      // long products, decimal sum (the topComponentPpm bound note)
      val d = col("v_us") - col("c_us")
      expl.join(broadcast(c), Seq("dim"))
        .groupBy(col("_id"), col("cell"))
        .agg(sum((d * d).cast("decimal(38,0)")).as("_dist"))
        .groupBy(col("_id"))
        .agg(min(struct(col("_dist"), col("cell"))).as("_b"))
        .select(col("_id"), col("_b._dist").as("dist"),
          col("_b.cell").as("cell"))
    }
    var r = 0
    while (r < rounds) {
      val a = assign(cents).transform(Frames.truncate)
      cents = expl.join(a.select(col("_id"), col("cell")), Seq("_id"))
        .groupBy(col("cell"), col("dim"))
        .agg(Sampling.intDiv(sum(col("v_us").cast("decimal(38,0)")),
          count(lit(1)).cast("decimal(38,0)")).as("c_us"))
        .transform(Frames.truncate)
      r += 1
    }
    val fin = assign(cents)
    expl.unpersist(false)
    fin.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dist")).cast("long").as("inertia_us2"))
  }

  /** Inter-class separability matrix: exact squared distance between
    * per-label floor-mean centroids, for every unordered label pair — the
    * companion of the label-noise screen (classes whose centroids nearly
    * coincide will fail any classifier regardless of label quality; merge
    * or re-define them before training).
    *
    * One corpus-sized pass (posexplode → (label, dim) aggregate, tiny),
    * then all pair math runs on |labels|·dims rows. Same micro-unit /
    * pmod-floor discipline as [[dimStats]], so the matrix hash-matches
    * any engine. Output: (label_a, label_b, dist2_us2), label_a <
    * label_b. */
  def classSeparation(df: DataFrame, vecCol: String,
                      labelCol: String): DataFrame = {
    val vUs = round(col("_v").cast("double") * lit(1000000d), 0)
      .cast("long")
    val expl = df
      .select(col(labelCol).as("_l"), posexplode(col(vecCol))
        .as(Seq("dim", "_v")))
      .select(col("_l"), col("dim").cast("long").as("dim"), vUs.as("v_us"))
    val mu = expl.groupBy(col("_l"), col("dim")).agg(
      Sampling.intDiv(sum(col("v_us").cast("decimal(38,0)")),
        count(lit(1)).cast("decimal(38,0)")).as("mu_us"))
    val d = (col("a.mu_us") - col("b.mu_us")).cast("decimal(38,0)")
    mu.as("a")
      .join(mu.as("b"),
        col("a.dim") === col("b.dim") && col("a._l") < col("b._l"))
      .groupBy(col("a._l").as("label_a"), col("b._l").as("label_b"))
      .agg(sum(d * d).cast("long").as("dist2_us2"))
  }

  /** Top principal component of the embedding corpus by BOUNDED power
    * iteration, entirely in integer fixed-point — the engine-exact PCA
    * probe (is this batch collapsing onto one axis? which dims load it?).
    * The bounded round count is the declared semantics (the PageRank-iters
    * pattern) so an external SQL engine can unroll the identical rounds
    * and hash-match the result; a production caller wanting convergence
    * raises `rounds`.
    *
    * Pipeline, all exact integer arithmetic (micro-unit quantization →
    * DECIMAL sums, floor divisions via the shared pmod form):
    *  1. per-dim floor-mean μ_us (one dims-sized aggregate, broadcast);
    *  2. scatter matrix C = Σ_i d_i d_iᵀ over deviations d = x_us − μ_us:
    *     the deviation frame self-joins on the row id (one exchange,
    *     reused for both sides) fanning out dims² products per row, then
    *     collapses map-side into the dims²-entry aggregate;
    *  3. `rounds` × (matvec w = C·v, then renormalize v ← ⌊w·10⁶ /
    *     max|w|⌋) with the dims-sized v broadcast into each matvec and
    *     per-round localCheckpoint lineage truncation. v₀ = all-ones.
    *
    * Output: (dim, v_ppm) with max|v_ppm| = 10⁶ exactly; the sign is
    * whatever the iteration converges to (deterministic, not canonical).
    *
    * Scale: the corpus-sized work is one O(rows·dims²) self-join+aggregate
    * — the true cost of any covariance-based method — with everything
    * after it operating on dims² ≤ a few thousand rows. Nothing collects
    * to the driver. */
  def topComponentPpm(df: DataFrame, idCol: String, vecCol: String,
                      rounds: Int = 3): DataFrame = {
    val vUs = round(col("_v").cast("double") * lit(1000000d), 0)
      .cast("long")
    val expl = df
      .select(col(idCol).as("_id"), posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .select(col("_id"), col("dim").cast("long").as("dim"), vUs.as("v_us"))
    val mu = expl.groupBy(col("dim")).agg(
      Sampling.intDiv(sum(col("v_us").cast("decimal(38,0)")),
        count(lit(1)).cast("decimal(38,0)")).as("mu_us"))
    // per-row products stay LONG (|dv| is ~10⁷ µ for unit-scale
    // embeddings; the long-safe bound is |dv| < 3·10⁹, and ANSI mode
    // fails loudly rather than wrapping past it) — only the sum rides
    // DECIMAL. Scatter matrix WITHOUT a corpus self-join: deviations
    // stay an ARRAY per row (means broadcast as one array row), and the
    // (i, j) products come from two CHAINED generators over that array —
    // dims² rows per vector flow straight into a map-side-combined hash
    // aggregate with only dims² groups, so nothing corpus-sized ever
    // shuffles. The previous dev⋈dev-on-id form shuffled the whole
    // exploded frame through a join first.
    val muArr = mu
      .agg(array_sort(collect_list(struct(col("dim"), col("mu_us"))))
        .as("_ms"))
      .select(transform(col("_ms"), m => m.getField("mu_us")).as("_mu"))
    val dev = df.crossJoin(broadcast(muArr))
      .select(zip_with(col(vecCol).cast("array<double>"), col("_mu"),
        (x, m) => round(x * lit(1000000d), 0).cast("long") - m).as("_dv"))
    val cov = dev
      .select(posexplode(col("_dv")).as(Seq("_i", "_a")), col("_dv"))
      .select(col("_i").cast("long").as("i"), col("_a"),
        posexplode(col("_dv")).as(Seq("_j", "_b")))
      .groupBy(col("i"), col("_j").cast("long").as("j"))
      .agg(sum((col("_a") * col("_b")).cast("decimal(38,0)")).as("c"))
    // the matvec rounds run DRIVER-SIDE over the collected dims²-row
    // scatter matrix (bounded by dims, never by the corpus — the
    // Profile.exactQuantileValues / Pq anchor-table precedent): exact
    // BigInt products, the same floor division as Sampling.intDiv, and
    // the result folds back as a literal frame. The distributed form
    // paid an eager checkpoint per round for a 64×64 matrix — 3.1 s of
    // pure iteration overhead at sf0.1.
    // null cells (a dimension that is null in every vector) drop out,
    // matching the previous distributed form where null products simply
    // vanished from the next round's sum
    val covRows = cov.collect()
      .flatMap(r => Option(r.getDecimal(2))
        .map(d => (r.getLong(0), r.getLong(1)) -> BigInt(d.toBigInteger)))
      .toMap
    val dims = mu.select(col("dim")).collect().map(_.getLong(0)).sorted
    def floorDiv(a: BigInt, b: BigInt): BigInt = {
      val m = ((a % b) + b) % b
      (a - m) / b
    }
    var vVec = dims.map(_ => BigInt(1000000L))
    var r = 0
    while (r < rounds) {
      val w = dims.indices.map(i => dims.indices.foldLeft(BigInt(0)) {
        case (acc, j) =>
          acc + covRows.getOrElse((dims(i), dims(j)), BigInt(0)) * vVec(j)
      })
      val mx = w.map(_.abs).max.max(BigInt(1))
      vVec = w.map(x => floorDiv(x * 1000000L, mx)).toArray
      r += 1
    }
    val spark = df.sparkSession
    import spark.implicits._
    dims.zip(vVec.map(_.toLong)).toSeq.toDF("dim", "v_ppm")
  }

  /** Top-k embedding outliers by exact squared distance to the corpus
    * centroid — the batch-health companion of [[dimStats]]: a handful of
    * vectors sitting far from everything else usually means a corrupted
    * encode, a mis-normalized shard, or genuine out-of-distribution data
    * worth inspecting before training.
    *
    * Integer-exact so the report hash-matches any engine: components
    * quantize to micro-units, the per-dimension floor-mean `μ_us` comes
    * from one tiny aggregate (`dims` rows, broadcast back), and the score
    * is Σ_j (x_us − μ_us)² summed in DECIMAL — pure integer arithmetic,
    * no fp accumulation order anywhere. Flooring the mean biases each
    * deviation by < 1 micro-unit, deterministically and identically in
    * both engines (DuckDB's `//` after the pmod trick ≡ Spark's intDiv).
    *
    * Scale: one posexplode feeding a dims-sized aggregate, one broadcast
    * join back onto the exploded frame, one per-id aggregate, then
    * TakeOrderedAndProject for the top-k — no window over the corpus, no
    * driver collection, shuffles carry O(rows) and O(dims) respectively. */
  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
                       topK: Int = 20): DataFrame = {
    val vUs = round(col("_v").cast("double") * lit(1000000d), 0)
      .cast("long")
    val expl = df
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .select(col(idCol), col("dim").cast("long").as("dim"), vUs.as("v_us"))
    val mu = expl.groupBy(col("dim")).agg(
      Sampling.intDiv(sum(col("v_us").cast("decimal(38,0)")),
        count(lit(1)).cast("decimal(38,0)")).as("mu_us"))
    val dev = col("v_us") - col("mu_us")
    expl.join(broadcast(mu), Seq("dim"))
      .groupBy(col(idCol))
      .agg(sum((dev * dev).cast("decimal(38,0)")).cast("long")
        .as("dist2_us2"))
      .orderBy(col("dist2_us2").desc, col(idCol))
      .limit(topK)
  }
}
