package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values / bottom-k) distinct-count sketches
  * (beyond-parity; Bar-Yossef et al. RANDOM'02, Beyer et al. SIGMOD'07)
  * — the set-OPERATION sketch the HLL family ([[Hll]]) cannot be:
  * because a KMV sketch IS a uniform sample of the value-hash space,
  * two sketches support an UNBIASED intersection estimate
  * (|A∩B| ≈ (|K∪ ∩ A ∩ B| / k) · |A∪B|-est, Beyer et al. §4), the
  * "how much does source X overlap source Y" question cross-source
  * contamination and mixture design ask at corpus scale — HLL unions
  * losslessly but intersects only via inclusion–exclusion, whose error
  * explodes for small overlaps.
  *
  * Determinism: hashes come from [[Dedup.Md5Hasher]] (60-bit md5
  * prefix), so any SQL engine replays the sketch EXACTLY — the oracle
  * twin recomputes the same k minima, the same kth-hash threshold and
  * the same floored-double estimates. Estimates use the classic
  * (k−1)/θ form with θ = h_k/2^60: `floor((k−1) · 2^60 / h_k)` — the
  * multiply is IEEE-exact ((k−1) ≤ 2^20 carries ≤ 21 significant bits),
  * the int64→double cast of h_k and the division round identically
  * under IEEE in both engines, so the floor is bit-stable (the MMR
  * floored-double precedent).
  *
  * Scale shape: the sketch build is one distinct + one
  * (group, hash)-sorted window keeping k rows per group — shuffle on
  * the group key, partial sort in the exchange, never a corpus-sized
  * collect; every downstream op (estimate, union, intersection) works
  * on k-sized arrays, k ~ 10²–10³. Sketches MERGE losslessly
  * (bottom-k of a union = bottom-k of the concatenated bottom-k's —
  * [[KmvSpec]] pins merge ≡ rebuild exactly), so per-shard sketches
  * roll up without touching raw data; like HLL registers they do NOT
  * subtract — a takedown rebuilds from per-shard sketches of the
  * surviving shards (the [[Hll]] deletion posture, documented there).
  */
object Kmv {

  /** Per-group KMV sketch of `termCol`: the k smallest distinct 60-bit
    * md5 hashes, sorted ascending, plus the declared `k`. An under-full
    * sketch (size < k) is EXACT — it holds every distinct hash the
    * group has, and [[estimateCol]] reads it as such. */
  def sketch(items: DataFrame, termCol: String, groupCols: Seq[String],
             k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val hashed = items
      .select(groupCols.map(col) :+
        Dedup.Md5Hasher(col(termCol)).as("_h"): _*)
      .distinct()
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("_h"))
    hashed
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(col("_h"))).as("kmv"),
        count(lit(1)).as("n_kept"))
      .withColumn("k", lit(k))
      .drop("n_kept")
  }

  private val Range60: Double = 1152921504606846976.0d // 2^60

  /** Distinct-count estimate column over a `kmv` array + its `k`:
    * exact size when the sketch is under-full, (k−1)/θ otherwise. */
  def estimateCol(kmv: org.apache.spark.sql.Column,
                  k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(kmv) < k, size(kmv).cast("long"))
      .otherwise(floor((k.cast("double") - lit(1.0d)) * lit(Range60) /
        element_at(kmv, -1).cast("double")).cast("long"))

  /** Merge two sketch arrays of the same k: bottom-k of the distinct
    * union — the lossless roll-up ([[KmvSpec]] pins merge ≡ rebuild). */
  def mergeCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
               k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    slice(array_sort(array_distinct(concat(a, b))), lit(1), k)

  /** Pairwise source-overlap estimates from one [[sketch]] frame keyed
    * by a single `groupCol`: for every unordered group pair (a < b),
    * the union estimate, the intersection estimate and a Jaccard in ppm
    * — Beyer et al. SIGMOD'07 §4: build the union sketch K∪ (bottom-k
    * of the merged minima), count its members present in BOTH input
    * sketches (n_common), then |A∩B| ≈ n_common/k · |A∪B|-est. All
    * k-sized array work on a groups²-sized frame (groups = sources,
    * never documents). */
  def intersectEstimates(sketches: DataFrame, groupCol: String): DataFrame = {
    val a = sketches.select(col(groupCol).as("ga"), col("kmv").as("kva"),
      col("k"))
    val b = sketches.select(col(groupCol).as("gb"), col("kmv").as("kvb"))
    a.join(b, col("ga") < col("gb"))
      .withColumn("kvu", mergeCol(col("kva"), col("kvb"), col("k")))
      .withColumn("est_union", estimateCol(col("kvu"), col("k")))
      .withColumn("n_common", size(filter(col("kvu"),
        h => array_contains(col("kva"), h) &&
          array_contains(col("kvb"), h))).cast("long"))
      // the sampling-rate denominator is the RETAINED union-sketch size,
      // not k: when the union under-fills, the sketch IS the exact union
      // (rate 1) and n_common IS the exact intersection — dividing by k
      // would shrink exact answers by |K∪|/k. Full sketches have
      // size = k, the textbook ρ·U form. n_common ≤ k ≤ 2^20 and
      // est_union ≤ 2^60/h_1 keep the product in the same
      // floored-double regime as the estimator itself
      .withColumn("est_intersect",
        floor(col("n_common").cast("double") * col("est_union").cast("double")
          / size(col("kvu")).cast("double")).cast("long"))
      .withColumn("jaccard_ppm",
        floor(col("n_common").cast("double") * lit(1000000.0d) /
          size(col("kvu")).cast("double")).cast("long"))
      .select(col("ga"), col("gb"), col("est_union"), col("n_common"),
        col("est_intersect"), col("jaccard_ppm"))
  }
}
