package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.schema.PropDef

/** Scalar/projection operators P1–P8 (SURVEY.md §2.2).
  *
  * All pure `DataFrame => DataFrame` or `Column => Column` — no UDFs, so
  * every transform stays inside whole-stage codegen and Catalyst can push
  * projections/predicates into the parquet scan.
  */
object Project {

  /** P1 — projection + rename from mapping `props` (src → name), with P2
    * value recoding applied inline.
    * Reference: tube/etl/indexers/base/translator.py:123-153. */
  def props(df: DataFrame, keep: Seq[Column], defs: Seq[PropDef]): DataFrame =
    df.select(keep ++ defs.map(propCol): _*)

  def propCol(p: PropDef): Column = propCol(p, None)

  /** `propCol` with an optional bind-time cast to the declared dictionary
    * type (applied before recode, so mappings see canonical values). */
  def propCol(p: PropDef, castTo: Option[DataType]): Column = {
    val base = castTo.fold(col(p.src))(col(p.src).cast)
    val recoded = if (p.valueMappings.isEmpty) base else recode(base, p.valueMappings)
    recoded.alias(p.name)
  }

  /** P2 — enum recode. The reference broadcasts a Python dict into a UDF
    * (base/lambdas.py:353-357); here a map literal + `element_at`, so the
    * lookup is a constant-folded Catalyst expression: unmapped values pass
    * through unchanged. */
  def recode(c: Column, mapping: Map[String, String]): Column = {
    val entries = mapping.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }
    coalesce(element_at(map(entries: _*), c), c)
  }

  /** P6 — project_id synthesis: `concat_ws("-", program, code)` when absent
    * (reference: aggregation/new_translator.py:372-384). */
  def projectId(program: Column, code: Column): Column =
    concat_ws("-", program, code)

  /** P7 — auth_resource_path with per-project overrides (reference:
    * tube/etl/plugins/post_process.py:7-44 + the user.yaml override map,
    * tube/utils/general.py:20-55). The override map is keyed by the project
    * code — the text after the FIRST '-' (codes may contain '-'): hit →
    * override path, miss → `/programs/{p}/projects/{c}`, id without '-' →
    * '' (the reference returns empty for unsplittable ids). Map literal +
    * `element_at`, so the lookup constant-folds and stays in codegen. */
  def authResourcePath(projectId: Column,
                       overrides: Map[String, String] = Map.empty): Column =
    when(projectId.contains("-"), authPathExpr(projectId, overrides))
      .otherwise(lit(""))

  /** P7 array branch: list-valued project_id → list of paths
    * (reference post_process.py handles both shapes). */
  def authResourcePathArray(projectIds: Column,
                            overrides: Map[String, String] = Map.empty): Column =
    transform(projectIds, pid =>
      when(pid.contains("-"), authPathExpr(pid, overrides)).otherwise(lit("")))

  private def authPathExpr(pid: Column, overrides: Map[String, String]): Column = {
    val code = regexp_replace(pid, "^[^-]*-", "")
    val dflt = format_string("/programs/%s/projects/%s",
      substring_index(pid, "-", 1), code)
    if (overrides.isEmpty) dflt
    else {
      val entries = overrides.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }
      coalesce(element_at(map(entries: _*), code), dflt)
    }
  }
}
