package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** TemporalJoin: the union-and-sort as-of join and the bucketed interval
  * join, each differentially checked against the naive formulation on
  * randomized-ish small data, plus plan-shape probes (no join node at all
  * for as-of; an equi-join, never a nested-loop, for interval). */
class TemporalJoinSpec extends SparkSpec {
  import spark.implicits._

  private def leftDf: DataFrame =
    Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 305L),
      (4L, 20L, 100L), (5L, 20L, 99L), (6L, 30L, 500L))
      .toDF("event_id", "k", "ts")

  private def rightDf: DataFrame =
    Seq((10L, 100L, "a"), (10L, 200L, "b"), (10L, 305L, "c"),
      (20L, 100L, "d"), (40L, 50L, "z"))
      .toDF("k", "rts", "payload")

  test("asofJoin picks the latest right row at or before each left ts") {
    val out = TemporalJoin.asofJoin(leftDf, rightDf, "k", "ts", "rts")
      .select("event_id", "asof_rts", "payload")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        Option(r.getString(2)).getOrElse("-"))).toSet
    assert(out === Set(
      (1L, 100L, "a"),   // exact-timestamp match is inclusive
      (2L, 200L, "b"),   // between right rows -> previous one
      (3L, 305L, "c"),   // latest, also exact
      (4L, 100L, "d"),
      (5L, -1L, "-"),    // before any right row -> nulls
      (6L, -1L, "-")))   // key with no right rows at all -> nulls
  }

  test("asofJoin matches the naive per-row argmax on random data") {
    val n = 400
    val l = spark.range(n).select(col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(7)).as("k"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("ts"))
    val r = spark.range(150).select(
      pmod(xxhash64(col("id"), lit(2)), lit(9)).as("k"),
      pmod(xxhash64(col("id"), lit(3)), lit(1000)).as("rts"))
      .groupBy("k", "rts").agg(count(lit(1)).as("cnt")) // unique (k, rts)
    val got = TemporalJoin.asofJoin(l, r, "k", "ts", "rts")
      .select("event_id", "asof_rts", "cnt")
    val naive = l.join(r, l("k") === r("k") && r("rts") <= l("ts"), "left")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_id").orderBy(col("rts").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("rts").as("asof_rts"), col("cnt"))
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("asofJoin plans with no join node — one window over one shuffle") {
    val plan = TemporalJoin.asofJoin(leftDf, rightDf, "k", "ts", "rts")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan)
  }

  test("intervalJoin equals the naive range join, bounds inclusive") {
    val l = spark.range(300).select(col("id").as("from_id"),
      pmod(xxhash64(col("id")), lit(5)).as("k"),
      pmod(xxhash64(col("id"), lit(1)), lit(500)).as("from_us"))
    val r = spark.range(300).select((col("id") + 1000).as("to_id"),
      pmod(xxhash64(col("id"), lit(2)), lit(5)).as("k"),
      pmod(xxhash64(col("id"), lit(3)), lit(500)).as("to_us"))
    val got = TemporalJoin.intervalJoin(l, r, "k", "from_us", "to_us",
      lowerUs = -20L, upperUs = 60L)
      .select("from_id", "to_id")
    val naive = l.join(r, Seq("k"))
      .filter(col("to_us") >= col("from_us") - 20 &&
        col("to_us") <= col("from_us") + 60)
      .select("from_id", "to_id")
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("intervalJoin plans an equi-join, not a nested loop") {
    val l = leftDf.withColumnRenamed("ts", "lts")
    val r = rightDf.withColumnRenamed("rts", "rr")
    val plan = TemporalJoin.intervalJoin(l, r, "k", "lts", "rr", 0L, 100L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }
}
