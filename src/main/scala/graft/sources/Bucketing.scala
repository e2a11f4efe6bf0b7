package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed tables for co-located joins (SCALE.md: "reuse a partitioning
  * across stages").
  *
  * Writing both sides of a recurring join bucketed by the join key lets
  * every subsequent join run with ZERO shuffle: the scan reports
  * `HashPartitioning(key, n)` and Catalyst drops both Exchanges. The win at
  * 100 TB: the dominant fact-to-fact joins (lineitem⋈orders-shaped) pay
  * the shuffle once at ingest instead of per query. Verified by
  * `BucketingSpec`, which asserts the joined plan contains no
  * shuffle Exchange.
  *
  * Buckets are hive-style managed tables (`saveAsTable`) — the only Spark
  * surface that persists bucket metadata.
  */
object Bucketing {

  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit = {
    // overwrite must also cover the stale-location case: a warehouse dir
    // left by a previous JVM whose (in-memory/derby) metastore is gone —
    // saveAsTable then fails LOCATION_ALREADY_EXISTS even in overwrite
    // mode because the catalog has no table to drop. Clear both halves.
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite").bucketBy(buckets, key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** True when the physical plan contains no shuffle exchange — the
    * co-location check used by the spec and by `Explain` reviews.
    * Descends into AdaptiveSparkPlanExec: AQE wraps the real plan and
    * `TreeNode.exists` does not traverse through the wrapper's inputPlan. */
  def isShuffleFree(df: DataFrame): Boolean = {
    // string-level check: AdaptiveSparkPlanExec hides its inner plan from
    // TreeNode traversal, but the rendered plan always prints shuffle
    // exchanges as `Exchange <partitioning>` (broadcast prints
    // `BroadcastExchange`, which is not a shuffle)
    val rendered = df.queryExecution.executedPlan.toString
    !Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
      "Exchange SinglePartition").exists(rendered.contains)
  }
}
