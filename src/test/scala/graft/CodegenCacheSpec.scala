package graft

import graft.expressions.GraftExtensions
import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The graft session extension sizes Spark's generated-class cache for a
  * whole pass, in every session that loads it: a second pass over a
  * workload of more distinct generated classes than Spark's default cache
  * holds (100) finds them all still cached. */
class CodegenCacheSpec extends SparkSpec {

  test("sizeCodegenCache sets 1000 entries unless the conf already names a size") {
    val absent = new SparkConf(false)
    GraftExtensions.sizeCodegenCache(absent)
    assert(absent.get("spark.sql.codegen.cache.maxEntries") == "1000")
    val explicit = new SparkConf(false)
      .set("spark.sql.codegen.cache.maxEntries", "64")
    GraftExtensions.sizeCodegenCache(explicit)
    assert(explicit.get("spark.sql.codegen.cache.maxEntries") == "64")
  }

  test("the shared session reads a 1000-entry cache though Sessions.builder does not set it") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(spark.sparkContext.getConf
      .get("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("a warm pass over 200 distinct generated classes compiles almost none") {
    // each query inlines its own literals into its generated code, so
    // each compiles a class of its own
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 200).foreach { i =>
        spark.range(4).select((col("id") * lit(i.toLong) + lit(7L)).as("x"))
          .filter(col("x") > lit(i.toLong)).collect()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    assert(first > 100, s"first pass compiled $first classes")
    val second = pass()
    assert(second <= 10, s"second pass compiled $second of $first classes")
  }
}
