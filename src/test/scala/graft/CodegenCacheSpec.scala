package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The session factory sizes Spark's generated-class cache for a whole
  * pass: a second pass over a workload of more distinct generated classes
  * than Spark's default cache holds (100) finds them all still cached. */
class CodegenCacheSpec extends SparkSpec {

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
