package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A1 — declarative aggregation-function factory.
  *
  * Reference: tube/etl/indexers/base/translator.py:273-306
  * (`reducer_to_agg_func_expr`) with fn set {count,sum,min,max,set,list,first}
  * (docs/configuration_file.md:224-231).
  *
  * Divergences (deliberate, documented in SURVEY.md §4):
  *   - the reference implements `max` as `min` (base/translator.py:303-304);
  *     we implement real `max`.
  *   - the reference's flatten/merge UDFs (base/lambdas.py:339-357) are
  *     replaced by codegen'd built-ins `flatten`/`array_distinct`.
  *   - `set`/`list` results are sorted (`array_sort`) so document output is
  *     deterministic under any partitioning — required for differential
  *     testing and idempotent re-runs at scale.
  */
object AggExpr {

  /** Plain aggregation over scalar input columns. */
  def agg(fn: String, c: Column): Column = fn match {
    case "count" => count(when(c.isNotNull, 1))
    case "countd" => count_distinct(c)   // dedup-by-id descendant count
    case "sum"   => sum(c)
    case "min"   => min(c)
    case "max"   => max(c)
    case "first" => first(c, ignoreNulls = true)
    case "set"   => array_sort(collect_set(c))
    case "list"  => array_sort(collect_list(c))
    case other   => throw new IllegalArgumentException(s"agg fn $other")
  }

  /** Merging mode: re-aggregate partial aggregates one level up the tree
    * (count partials are summed; set/list partials are array-flattened).
    * Reference: base/translator.py:283-298 + flatten UDFs lambdas.py:339-350.
    * Catalyst already does partial/final aggregation inside one plan; this
    * exists for explicitly staged (checkpointed) multi-level pipelines. */
  def merge(fn: String, c: Column): Column = fn match {
    case "count" | "sum" => sum(c)
    case "min"           => min(c)
    case "max"           => max(c)
    case "first"         => first(c, ignoreNulls = true)
    case "set"  => array_sort(array_distinct(flatten(collect_list(c))))
    case "list" => array_sort(flatten(collect_list(c)))
    case other  => throw new IllegalArgumentException(s"agg merge fn $other")
  }

  /** Zero-value semantics for empty groups in final documents
    * (reference: base/lambdas.py:260-281): set/list → [], count/sum → 0,
    * min/max/first → null. Applied after left joins reintroduce
    * childless roots. */
  def zeroFill(fn: String, c: Column): Column = fn match {
    case "count" | "countd" | "sum" => coalesce(c, lit(0))
    case "set" | "list"  => coalesce(c, array())
    case _               => c
  }
}
