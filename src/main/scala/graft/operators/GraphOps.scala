package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.PropDef

/** Graph-join operators J1–J5 and the aggregation operators A2–A6 built on
  * them (SURVEY.md §2.3–2.4).
  *
  * Conventions (diverging from the reference's name-intersection joins,
  * which are accidental-join-prone — base/translator.py:369-376):
  *   - every join is on EXPLICIT key columns;
  *   - edge DataFrames are two columns `(childId, parentId)`;
  *   - node DataFrames carry their id in `_{label}_id`.
  *
  * Scale notes: each hop is an equi-join Catalyst plans as broadcast or
  * sort-merge depending on size + AQE; multi-hop aggregations are expressed
  * as ONE logical plan per path so partial aggregation, join reordering and
  * shuffle reuse apply — the reference instead materializes each hop and
  * hand-merges partial aggregates (aggregation/new_translator.py:67-232),
  * which is exactly what we avoid.
  */
object GraphOps {

  /** J2 — one graph hop: child rows gain their parent's id. `edge` has
    * columns (childKey, parentKey); broadcast it when small. */
  def hop(child: DataFrame, edge: DataFrame, childKey: String,
          broadcastEdge: Boolean = false): DataFrame = {
    val e = if (broadcastEdge) broadcast(edge) else edge
    child.join(e, Seq(childKey), "inner")
  }

  /** A4 — top-1-per-group (`sorted_by`): many-to-one flatten picks one child
    * row per root by max/min of a sort column. Implemented with `max_by` /
    * `min_by` over a struct of all wanted props — a single hash aggregate,
    * no window shuffle-sort and no `sort_array(collect_list)` memory blowup
    * on hot roots (reference: aggregation/new_translator.py:256-280). */
  def sortedFirst(joined: DataFrame, rootKey: String, sortCol: Column,
                  descending: Boolean, props: Seq[Column]): DataFrame = {
    val packed = struct(props: _*)
    val pick = if (descending) max_by(packed, sortCol) else min_by(packed, sortCol)
    joined.groupBy(col(rootKey))
      .agg(pick.alias("_top"))
      .select(col(rootKey), col("_top.*"))
  }

  /** A2 — aggregation over a multi-hop descendant path, as ONE plan:
    * root ⋈ e1 ⋈ e2 … then groupBy(root).agg(...). Per-path descendant
    * counts are `countDistinct(leafId)` (dedup-by-edge semantics —
    * SURVEY.md §7.4). `aggs` are (outputName, fn, column).
    *
    * Invariant: `leaf` is joined by its id, so leaf ids MUST be unique
    * (true for the reference's UUID node_ids). For fact tables with
    * duplicate keys, fold the leaf columns into the last hop instead
    * (join the leaf table on the parent key, skipping the id self-join). */
  def aggPath(root: DataFrame, rootKey: String,
              hops: Seq[(DataFrame, String)],   // (edge(childKey,parentKey-ish), join key on acc)
              leaf: Option[(DataFrame, String)],
              aggs: Seq[(String, String, Column)]): DataFrame = {
    val walked = hops.foldLeft(root) { case (acc, (edge, key)) =>
      acc.join(edge, Seq(key), "left_outer")
    }
    val withLeaf = leaf match {
      case Some((df, key)) => walked.join(df, Seq(key), "left_outer")
      case None            => walked
    }
    aggRollup(withLeaf, rootKey, aggs)
  }

  /** The groupBy half of A2 over an already-walked path frame. The Translator
    * builds the walk from the EDGE side (child frames keyed by parent id, no
    * root join — the document's left join + zero-fill restores childless
    * roots), so at scale the plan is scan → partial agg → one exchange. */
  def aggRollup(walked: DataFrame, rootKey: String,
                aggs: Seq[(String, String, Column)]): DataFrame = {
    val cols = aggs.map { case (name, fn, c) =>
      AggExpr.zeroFill(fn, AggExpr.agg(fn, c)).alias(name)
    }
    walked.groupBy(col(rootKey)).agg(cols.head, cols.tail: _*)
  }

  /** J4 — index-to-index join (`joining_props`): join finished document set
    * A to per-key aggregates of document set B, left-outer
    * (reference: aggregation/new_translator.py:291-370).
    *
    * A join key that is ARRAY-valued on the other side (a collector doc
    * collected several ancestor ids, e.g. `_case_id` as a set) explodes
    * first: the doc contributes its props to EVERY id it references. */
  def indexJoin(docs: DataFrame, other0: DataFrame, joinOn: Seq[String],
                props: Seq[(PropDef, Option[String])]): DataFrame = {
    val other = joinOn.foldLeft(other0) { (d, k) =>
      d.schema(k).dataType match {
        case _: org.apache.spark.sql.types.ArrayType =>
          d.withColumn(k, explode_outer(col(k)))
        case _ => d
      }
    }
    val otherSel =
      if (props.forall(_._2.isEmpty))
        other.select((joinOn.map(col) ++ props.map(p => Project.propCol(p._1))): _*)
      else {
        val aggs = props.map { case (p, fn) =>
          AggExpr.agg(fn.getOrElse("set"), col(p.src)).alias(p.name)
        }
        other.groupBy(joinOn.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
    docs.join(otherSel, joinOn, "left_outer")
  }

  /** A5 — nested-document construction: children become a sorted
    * array-of-struct column on the parent key. Multi-hop paths pre-join the
    * intermediate edges; recursion happens by passing an already-nested
    * child frame. Reference: aggregation/nested/translator.py:24-85. */
  def nest(child: DataFrame, parentKey: String, structCols: Seq[Column],
           name: String): DataFrame =
    child.groupBy(col(parentKey))
      .agg(array_sort(collect_list(struct(structCols: _*))).alias(name))

  /** J5/W3 — injection leaf union: union leaf frames by name (missing
    * columns null-filled), dedup (reference: injection/
    * new_translator.py:72-76). */
  def unionLeaves(leaves: Seq[DataFrame]): DataFrame =
    leaves.reduce(_.unionByName(_, allowMissingColumns = true)).distinct()

  /** Bloom-filter join pruning, build half: with [[pruneWithBloom]], drop
    * `df` rows whose `key` cannot match any `buildKey` BEFORE the exact
    * join, so non-matching rows never enter the join's shuffle. The
    * 100 TB shape this serves: a selective root set walking a petabyte
    * edge table — a semi join would shuffle the edge table first; the
    * bloom probe is a per-row scan-stage predicate that costs no shuffle
    * and no broadcast-hash-map memory (bits, not rows).
    *
    * The filter is built with one `stat.bloomFilter` pass over the build
    * side (a driver-side sketch of `~1.2 bytes × expectedItems` at 1% fpp —
    * the one deliberate eager action here, same trade as a broadcast), then
    * rides the plan as a BINARY LITERAL probed by Spark's codegen'd
    * `BloomFilterMightContain` — the same predicate the optimizer's
    * InjectRuntimeFilter rule uses, exposed via `graft_might_contain` for
    * the shapes that rule cannot see across (multi-hop walks, iterative
    * algorithms, frames reused by several joins). Both sides hash through
    * `xxhash64` so any key type works.
    *
    * False positives pass (the downstream exact join removes them); false
    * negatives cannot happen — pruned output ⊇ true matches, always.
    *
    * This builds the serialized key sketch once (ONE pass over `build`);
    * reuse the bytes across several [[pruneWithBloom]] call sites so a key
    * set probed by N frames is not sketched N times. */
  def buildBloom(build: DataFrame, buildKey: Column,
                 expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val bf = build.select(xxhash64(buildKey).as("__bk"))
      .stat.bloomFilter("__bk", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Probe half of [[buildBloom]]: a scan-stage predicate, no shuffle. */
  def pruneWithBloom(df: DataFrame, key: Column,
                     bloom: Array[Byte]): DataFrame =
    df.filter(call_function("graft_might_contain", lit(bloom), xxhash64(key)))
}
