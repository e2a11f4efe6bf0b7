package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-min sketch (Cormode & Muthukrishnan '05): fixed-size frequency
  * estimation for heavy-hitter monitoring — the sketch is depth·width
  * counters REGARDLESS of corpus size, where an exact vocabulary count
  * shuffles O(distinct items). At 100 TB the sketch frame is the thing a
  * monitoring job can afford to keep per hour/source/shard and merge by
  * cell-wise addition (counts are linear).
  *
  * Shapes: building the sketch explodes each item to `depth` (row, bucket)
  * cells, but map-side partial aggregation collapses every partition to at
  * most depth·width rows before the ONE shuffle — the wire cost is the
  * sketch size times the partition count, independent of item count.
  * Estimation broadcasts the (tiny) sketch onto the queried items.
  *
  * Cells hash with [[Dedup.Md5Hasher]], so every cell is recomputable in
  * plain SQL for the differential oracle. */
object Cms {

  /** Build the sketch: one row per non-empty (r, b) cell, r < depth,
    * b < width, cnt = how many items hashed there. */
  def sketch(items: DataFrame, itemCol: String, depth: Int,
             width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch dims $depth x $width")
    items
      .select(col(itemCol).as("_i"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r"),
        pmod(Dedup.Md5Hasher(col("r"), col("_i")), lit(width.toLong)).as("b"))
      .groupBy("r", "b").agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate the queried items against a sketch: the classic
    * min-over-rows upper bound (never underestimates; overestimates only
    * on collisions). `sk` broadcasts — it is at most depth·width rows. */
  def estimate(sk: DataFrame, items: DataFrame, itemCol: String,
               depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch dims $depth x $width")
    items
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("b",
        pmod(Dedup.Md5Hasher(col("r"), col(itemCol)), lit(width.toLong)))
      .join(broadcast(sk), Seq("r", "b"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
