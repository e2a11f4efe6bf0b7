package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed-by-key join plans with zero shuffle exchanges") {
    // force sort-merge: a broadcast join is also shuffle-free and would
    // make both sides of the contrast vacuous
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try bucketedJoinBody()
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def bucketedJoinBody(): Unit = {
    Seq("b_orders", "b_items").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    val orders = spark.range(1000)
      .select($"id".as("o_orderkey"), ($"id" % 7).as("o_custkey"))
    val items = spark.range(5000)
      .select(($"id" % 1000).as("l_orderkey"), ($"id" % 50).as("l_quantity"))

    Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", buckets = 8)
    Bucketing.writeBucketed(items, "b_items", "l_orderkey", buckets = 8)

    val joined = spark.table("b_orders")
      .join(spark.table("b_items"),
        col("o_orderkey") === col("l_orderkey"))

    assert(joined.count() === 5000)
    assert(Bucketing.isShuffleFree(joined),
      "bucketed join must not shuffle:\n" +
        joined.queryExecution.executedPlan.toString)

    // contrast: the same join over plain (unbucketed) frames DOES shuffle
    val plain = orders.join(items, col("o_orderkey") === col("l_orderkey"))
    assert(!Bucketing.isShuffleFree(plain))
  }
}
