package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins the reference cannot express (beyond-parity): the as-of
  * join ("attach the most recent right-side state at or before each left
  * timestamp") and the bounded interval join ("all right rows within
  * [t+lo, t+hi] of each left row").
  *
  * Both are shaped for 100 TB, not for the naive theta-join Catalyst would
  * plan from an inequality condition (BroadcastNestedLoop / cartesian):
  *
  *   - [[asofJoin]] is the union-and-sort formulation: tag both sides,
  *     union, ONE shuffle on the key, ONE sort per key on (ts, side), and
  *     `last(_, ignoreNulls)` carries the latest right-side values forward
  *     onto every left row. No join node exists in the plan at all, so
  *     there is nothing quadratic to mis-plan; cost is a sort-based
  *     shuffle of |L|+|R| rows — the same shape as a sort-merge join's
  *     shuffle side, minus the probe.
  *   - [[intervalJoin]] buckets time into cells one interval span wide
  *     and turns the range predicate into an EQUI-join on (key, bucket):
  *     the right side explodes to the (at most 2) buckets whose left rows
  *     could match it, the equi-join runs as an ordinary
  *     broadcast/sort-merge join, and the exact range predicate filters
  *     the candidates.
  *
  * Timestamps are long microseconds throughout (`unix_micros` at the call
  * site): interval arithmetic on integers is exact and ANSI-safe, and the
  * sort key is 8 bytes.
  */
object TemporalJoin {

  /** As-of join: each left row gains the right row's payload columns from
    * the latest right row with the same `key` and `rightTs <= leftTs`
    * (inclusive); left rows with no prior right row keep nulls.
    *
    * Preconditions: payload column names must not collide with left's;
    * (key, rightTs) SHOULD be unique on the right — equal-timestamp right
    * rows have no defined order and `last` would pick one arbitrarily
    * (reduce to one row per (key, ts) first, as the query layer does).
    *
    * The matched right timestamp is exposed as `asof_<rightTs>`. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String): DataFrame = {
    val payload = right.columns.filterNot(c => c == key || c == rightTs).toSeq
    val collisions = payload.toSet
      .intersect(left.columns.toSet) ++
      (if (left.columns.contains(rightTs)) Seq(rightTs) else Nil)
    require(collisions.isEmpty,
      s"right payload collides with left columns: ${collisions.mkString(",")}")
    val carried = s"asof_$rightTs" +: payload
    // right rows sort BEFORE left rows at an equal timestamp (side 0 < 1)
    // so "at or before" is inclusive
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn(s"asof_$rightTs",
        lit(null).cast(right.schema(rightTs).dataType))
    val lFull = payload.foldLeft(l)((df, c) =>
      df.withColumn(c, lit(null).cast(right.schema(c).dataType)))
    val rFull = left.columns.filterNot(_ == key).foldLeft(
      right
        .withColumn("__ts", col(rightTs))
        .withColumn("__side", lit(0))
        .withColumn(s"asof_$rightTs", col(rightTs))
        .drop(rightTs)
    )((df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType)))

    val cols = lFull.columns.toSeq
    val unioned = lFull.union(rFull.select(cols.map(col): _*))
    val w = Window.partitionBy(key).orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = carried.foldLeft(unioned)((df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    filled.filter(col("__side") === 1).drop("__ts", "__side")
  }

  /** Bounded interval join: pairs (l, r) with `l.key = r.key` and
    * `r.<rightTs> ∈ [l.<leftTs> + lowerUs, l.<leftTs> + upperUs]`, both
    * bounds inclusive, timestamps long microseconds. Column sets must be
    * disjoint apart from `key`.
    *
    * Buckets are the interval's span wide (`upperUs - lowerUs`, at least
    * 1), so each right row replicates to at most 2 buckets. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   lowerUs: Long, upperUs: Long): DataFrame = {
    require(upperUs >= lowerUs, s"empty interval [$lowerUs, $upperUs]")
    val width = math.max(upperUs - lowerUs, 1L)
    // a left row in bucket floor(lts/W) matches right rows with
    // rts ∈ [lts+lo, lts+hi]; inverting, a right row's candidate left
    // buckets are floor((rts-hi)/W) .. floor((rts-lo)/W)
    val l = left.withColumn("__bucket",
      floor(col(leftTs).cast("long") / lit(width)).cast("long"))
    val r = right.withColumn("__bucket",
      explode(sequence(
        floor((col(rightTs).cast("long") - lit(upperUs)) / lit(width))
          .cast("long"),
        floor((col(rightTs).cast("long") - lit(lowerUs)) / lit(width))
          .cast("long"))))
    l.join(r, Seq(key, "__bucket"))
      .filter(col(rightTs) >= col(leftTs) + lit(lowerUs) &&
        col(rightTs) <= col(leftTs) + lit(upperUs))
      .drop("__bucket")
  }
}
