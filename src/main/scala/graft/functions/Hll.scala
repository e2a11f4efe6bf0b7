package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** HyperLogLog cardinality sketch with CROSS-ENGINE-DETERMINISTIC registers
  * (Flajolet, Fusy, Gandouet & Meunier, AofA 2007) — beyond-parity: the
  * reference counts distincts only exactly (`countDistinct` inside its
  * aggregation tree); at 100 TB the approximate sketch is the standard
  * answer ("how many distinct terms/users/urls per partition, merged
  * globally") because its state is m bytes per group regardless of
  * cardinality and merging two sketches is a register-wise max — exactly
  * the shape of a Spark partial aggregate.
  *
  * Spark's own `approx_count_distinct` is HLL++ but its hash is not
  * recomputable in an oracle engine, so this implementation derives the
  * registers from the md5-prefix 60-bit longs used by every other
  * deterministic kernel in this repo ([[Dedup.Md5Hasher]]): register =
  * low log2(m) bits, rho = leading-zero count of the remaining bits + 1
  * via the shared `length(bin(w))` log2 trick (bin() drops leading zeros
  * identically in Spark and DuckDB). rho is CLAMPED at [[RhoCap]] so the
  * register sum Σ 2^(RhoCap−rho) stays an exact BIGINT (≤ m·2^30 ≪ 2^53 —
  * also exactly representable as a double); the clamp changes estimates
  * only with probability ~m/2^30 and is applied identically in both
  * engines either way.
  *
  * The estimator is the textbook one in pure integer arithmetic:
  * raw = ⌊α_m·m²·2^RhoCap⌋ // Σ 2^(RhoCap−rho), with the small-range
  * linear-counting branch (raw ≤ 5m/2 and empty registers V > 0) read
  * from a precomputed ⌊m·ln(m/V)⌋ literal table so no transcendental
  * function evaluates at query time in either engine.
  *
  * Scale: one narrow shuffle to (group, register) — at most m rows per
  * group survive the map-side partial max — then an m-row-per-group
  * final fold. Merging sketches across sources/partitions/days is
  * a register-wise max ([[mergeRegs]]). */
object Hll {

  /** Clamp on rho: keeps Σ 2^(RhoCap−rho) within exact-integer range. */
  val RhoCap = 30

  private def requireM(m: Int): Unit =
    require(m >= 16 && (m & (m - 1)) == 0 && m <= 4096, s"m=$m not a power of 2 in [16,4096]")

  private def log2(m: Int): Int = 63 - java.lang.Long.numberOfLeadingZeros(m.toLong)

  /** ⌊α_m·m²·2^RhoCap⌋ — the numerator of the raw estimate, as an exact
    * long literal (α_m = 0.7213/(1 + 1.079/m), the standard bias constant
    * for m ≥ 128; used for smaller m too, documented determinism > the
    * last few % of bias). */
  def alphaNumerator(m: Int): Long = {
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    math.floor(alpha * m * m * math.pow(2.0, RhoCap)).toLong
  }

  /** ⌊m·ln(m/V)⌋ for V = 1..m — the linear-counting table, driver-side
    * literals (index V, 1-based). */
  def linearCountingTable(m: Int): Seq[Long] =
    (1 to m).map(v => math.floor(m * math.log(m.toDouble / v)).toLong)

  /** Observed registers: one row per (groupCols…, reg) with the max
    * clamped rho. `termCol` values are distinct-ed per group before
    * hashing (idempotent anyway — duplicates cannot raise a max — but the
    * explicit distinct keeps the shuffled row count at vocabulary size). */
  def registers(items: DataFrame, termCol: String, groupCols: Seq[String],
                m: Int = 64): DataFrame = {
    requireM(m)
    val p = log2(m)
    val h = Dedup.Md5Hasher(col(termCol).cast("string"))
    val keyCols = groupCols.map(col) :+ col(termCol)
    val distinctTerms = items.select(keyCols: _*).distinct()
    val w = shiftright(h, p) // 60−p significant bits remain
    val rho = when(w === 0, lit(60 - p + 1))
      .otherwise(lit(60 - p + 1) - length(bin(w)))
    distinctTerms
      .select((groupCols.map(col) :+
        h.bitwiseAND(lit(m - 1)).as("reg") :+
        least(rho, lit(RhoCap)).as("rho")): _*)
      .groupBy((groupCols.map(col) :+ col("reg")): _*)
      .agg(max(col("rho")).as("max_rho"))
  }

  /** Estimates from a register frame (groupCols…, reg, max_rho): fills the
    * missing registers of the 0..m−1 domain with rho 0 via a generated
    * domain frame (m rows per group — broadcast-sized), then folds
    * S = Σ 2^(RhoCap−rho), V = #zero registers, raw = αNum // S and the
    * linear-counting branch. Output: (groupCols…, zero_regs, raw_est, est). */
  def estimate(regs: DataFrame, groupCols: Seq[String],
               m: Int = 64): DataFrame = {
    requireM(m)
    val lcArr = array(linearCountingTable(m).map(lit): _*)
    val groups = regs.select(groupCols.map(col): _*).distinct()
    val domain = groups.crossJoin(
      broadcast(regs.sparkSession.range(m).select(col("id").cast("int").as("reg"))))
    val filled = domain.join(regs, groupCols :+ "reg", "left")
      .select((groupCols.map(col) :+
        coalesce(col("max_rho"), lit(0)).as("rho")): _*)
    val folded = filled.groupBy(groupCols.map(col): _*)
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($RhoCap - rho AS INT))")).as("s"),
        sum(when(col("rho") === 0, 1L).otherwise(0L)).as("zero_regs"))
    // exact integer floor division (the PageRank intDiv discipline): the
    // oracle's BIGINT `//` matches bit-for-bit; a double divide could
    // round across the floor boundary at large quotients
    val aNum = lit(alphaNumerator(m)).cast(DecimalType(38, 0))
    val sD = col("s").cast(DecimalType(38, 0))
    val raw = ((aNum - pmod(aNum, sD)) / sD).cast("long")
    folded.select((groupCols.map(col) :+ col("zero_regs") :+
      raw.as("raw_est") :+
      when(raw <= lit(5L * m / 2) && col("zero_regs") > 0,
        element_at(lcArr, col("zero_regs").cast("int")))
        .otherwise(raw).as("est")): _*)
  }

  /** The sketch as a Column: graft's [[graft.expressions.HllSketchAgg]]
    * TypedImperativeAggregate over the shared md5 60-bit hash — a TRUE
    * partial aggregate whose buffer is the m-byte register array, so the
    * shuffle carries one blob per group (vs [[registers]]'s up-to-m rows)
    * and no pre-`distinct` is needed (duplicates cannot raise a register
    * max). Register values are bit-identical to [[registers]] — pinned by
    * `HllSketchSpec`. Requires the `GraftExtensions` session extension. */
  def sketchAgg(termCol: String, m: Int = 64): org.apache.spark.sql.Column = {
    requireM(m)
    call_function("graft_hll_regs",
      Dedup.Md5Hasher(col(termCol).cast("string")), lit(m))
  }

  /** Register-wise merge of two register ARRAY columns (the HLL
    * mergeability law: max per register) — `sketch(A) ⊔ sketch(B) ≡
    * sketch(A ∪ B)`, which is what makes a PERSISTED sketch an
    * incremental artifact: growing corpora update distinct counts by
    * merging the new snapshot's sketch into the stored one, never
    * rescanning history. Null-safe on either side (a group absent from
    * one snapshot contributes an all-zero sketch).
    *
    * NO DELETE exists for sketch state — registers are MAXes, and a max
    * cannot be subtracted (the one incremental family without a takedown
    * path, unlike groups/datacard/LSH/IVF/Merkle). A deletion that must
    * reach cardinality sketches re-aggregates from the per-source
    * snapshot states that ARE retained: keep one sketch per retention
    * unit (source/day) and re-merge the survivors — O(units) register
    * merges, never a corpus rescan. */
  def mergeRegs(a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column,
                m: Int = 64): org.apache.spark.sql.Column = {
    requireM(m)
    val zero = array_repeat(lit(0), m)
    zip_with(coalesce(a, zero), coalesce(b, zero), (x, y) => greatest(x, y))
  }

  /** Estimates from a per-group register ARRAY column (what [[sketchAgg]]
    * evals to): the same integer estimator as [[estimate]], computed as a
    * per-row fold over the m-element array — the HOF-interpreted cost
    * rides GROUP rows, not corpus rows. Appends (zero_regs, raw_est, est);
    * bit-identical outputs to [[estimate]] on equal registers. */
  def estimateFromRegs(regs: DataFrame, regsCol: String,
                       m: Int = 64): DataFrame = {
    requireM(m)
    val lcArr = array(linearCountingTable(m).map(lit): _*)
    val s = expr(s"aggregate($regsCol, CAST(0 AS BIGINT), " +
      s"(acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), $RhoCap - r))")
    val zeros = expr(s"CAST(size(filter($regsCol, r -> r = 0)) AS BIGINT)")
    val aNum = lit(alphaNumerator(m)).cast(DecimalType(38, 0))
    val withS = regs.withColumn("zero_regs", zeros)
      .withColumn("_s", s.cast(DecimalType(38, 0)))
    val raw = ((aNum - pmod(aNum, col("_s"))) / col("_s")).cast("long")
    withS
      .withColumn("raw_est", raw)
      .withColumn("est",
        when(col("raw_est") <= lit(5L * m / 2) && col("zero_regs") > 0,
          element_at(lcArr, col("zero_regs").cast("int")))
          .otherwise(col("raw_est")))
      .drop("_s", regsCol)
  }
}
