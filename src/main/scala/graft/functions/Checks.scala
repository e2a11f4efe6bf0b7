package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation (the Deequ/Great-Expectations
  * shape, beyond-parity): a set of named constraints over one table is
  * verified in a SINGLE scan and returned as one row per check —
  * (check, col, observed_ppm, threshold_ppm, passed).
  *
  * Design for 100 TB:
  *   - every constraint compiles to a conditional count inside ONE
  *     hash aggregate — partial (map-side) aggregation does almost all
  *     of the work, the final reduce sees one partial row per task, and
  *     adding a check adds a column to that row, not a pass over the data;
  *   - the per-check fan-out happens AFTER aggregation on the single
  *     summary row (an N-way union of one-row projections — driver-cheap,
  *     data-free);
  *   - all ratios are integer floor-ppm (`1000000·ok div total`), so the
  *     report is engine-exact and order-independent;
  *   - [[Uniqueness]] is the one check that genuinely needs a distinct —
  *     count_distinct here (exact, two-phase partial agg), so the oracle
  *     recomputes its ppm.
  *
  * An empty input passes every ratio check vacuously (observed pinned to
  * 1e6, never NULL): there are no offending rows.
  */
object Checks {

  /** One declared constraint; `thresholdPpm` is the minimum fraction (in
    * parts-per-million of non-excluded rows) that must satisfy it. */
  sealed trait Check {
    def name: String
    def column: String
    def thresholdPpm: Long
    /** Rows satisfying the constraint (NULL handling per check). */
    private[functions] def ok: Column
    /** Rows the ratio is taken over (default: all rows). */
    private[functions] def base: Column = lit(true)
  }

  /** Fraction of rows where `column` is non-null. */
  final case class Completeness(column: String, thresholdPpm: Long)
      extends Check {
    val name = "completeness"
    private[functions] def ok: Column = col(column).isNotNull
  }

  /** Fraction of non-null rows whose value lies in [lo, hi]. */
  final case class InRange(column: String, lo: Long, hi: Long,
                           thresholdPpm: Long) extends Check {
    val name = "in_range"
    private[functions] def ok: Column =
      col(column) >= lit(lo) && col(column) <= lit(hi)
    override private[functions] def base: Column = col(column).isNotNull
  }

  /** Fraction of non-null rows matching an (RE2-free, engine-portable)
    * regex anchored by the caller. */
  final case class MatchesRegex(column: String, regex: String,
                                thresholdPpm: Long) extends Check {
    val name = "matches_regex"
    private[functions] def ok: Column = col(column).rlike(regex)
    override private[functions] def base: Column = col(column).isNotNull
  }

  /** Fraction of non-null rows whose value is one of `values`. */
  final case class InSet(column: String, values: Seq[String],
                         thresholdPpm: Long) extends Check {
    val name = "in_set"
    private[functions] def ok: Column =
      col(column).isin(values.map(v => v: Any): _*)
    override private[functions] def base: Column = col(column).isNotNull
  }

  /** distinct(column) / rows — 1e6 ppm iff the column is a key. */
  final case class Uniqueness(column: String, thresholdPpm: Long)
      extends Check {
    val name = "uniqueness"
    private[functions] def ok: Column = lit(true) // unused; special-cased
  }

  /** Floor-ppm, vacuously 1e6 on an empty base (no offending rows). */
  private def ppm(num: Column, den: Column): Column =
    when(den > 0, Sampling.intDiv(num.cast("decimal(38,0)") * lit(1000000L),
      den)).otherwise(lit(1000000L))

  /** Run all checks in one aggregate; returns
    * (check, col, observed_ppm, threshold_ppm, passed) sorted by
    * (check, col) for a deterministic report. The fan-out to one row per
    * check is an explode over the single summary row — NOT a union of
    * selects, which would re-run the aggregate once per check. */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "no checks declared")
    val aggs: Seq[Column] = count(lit(1)).as("_total") +: checks.zipWithIndex
      .flatMap {
        case (Uniqueness(c, _), i) =>
          Seq(count_distinct(col(c)).as(s"_ok$i"))
        case (chk, i) =>
          Seq(count(when(chk.base && chk.ok, 1)).as(s"_ok$i"),
              count(when(chk.base, 1)).as(s"_base$i"))
      }
    val summary = df.agg(aggs.head, aggs.tail: _*)
    val reportRows = checks.zipWithIndex.map { case (chk, i) =>
      val den = chk match {
        case _: Uniqueness => col("_total")
        case _             => col(s"_base$i")
      }
      val observed = ppm(col(s"_ok$i"), den)
      struct(
        lit(chk.name).as("check_name"), // `check` is SQL-reserved
        lit(chk.column).as("col_name"),
        observed.as("observed_ppm"),
        lit(chk.thresholdPpm).as("threshold_ppm"),
        (observed >= lit(chk.thresholdPpm)).cast("long").as("passed"))
    }
    summary.select(explode(array(reportRows: _*)).as("r"))
      .select("r.*")
      .orderBy(col("check_name"), col("col_name"))
  }

  /** Referential-integrity audit across declared FK edges — the conformance
    * report an ingest pipeline runs before trusting joins over a new load:
    * per edge, child row count, orphan count (child rows whose FK value has
    * no parent), and the orphan rate in floor-ppm. NULL FKs count as
    * orphans (they would silently vanish from any inner join downstream).
    *
    * Each edge is ONE left join + one conditional-count aggregate — the
    * parent's key column must be unique (a real PK), which keeps the join
    * row-preserving and lets the same plan serve as the SQL oracle form.
    * Small parents broadcast automatically; a fact-sized child shuffles
    * once on its FK. Output is |edges| rows. */
  def fkIntegrity(
      edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    edges.map { case (name, child, fk, parent, pk) =>
      child.select(col(fk).as("_fk"))
        .join(parent.select(col(pk).as("_pk")), col("_fk") === col("_pk"),
          "left")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("_pk").isNull, 1)).as("n_orphans"))
        .select(lit(name).as("fk_name"), col("n_rows"), col("n_orphans"),
          // an EMPTY child has a 0 orphan rate (not the vacuous-pass 1e6
          // that ratio checks pin — there is nothing to orphan)
          when(col("n_rows") > 0, ppm(col("n_orphans"), col("n_rows")))
            .otherwise(lit(0L)).as("orphan_ppm"))
    }.reduce(_ unionAll _)
}
