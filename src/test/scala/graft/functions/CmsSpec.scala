package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Count-min sketch: the never-underestimate guarantee, near-exactness at
  * generous widths, and linear mergeability. */
class CmsSpec extends SparkSpec {
  import spark.implicits._

  private def items(v: (String, Int)*) =
    v.flatMap { case (s, n) => Seq.fill(n)(s) }.toDF("item")

  private val zipf = items(
    "a" -> 100, "b" -> 50, "c" -> 25, "d" -> 10, "e" -> 5,
    "f" -> 2, "g" -> 1, "h" -> 1)

  private def trueCounts = Map("a" -> 100L, "b" -> 50L, "c" -> 25L,
    "d" -> 10L, "e" -> 5L, "f" -> 2L, "g" -> 1L, "h" -> 1L)

  test("estimates never underestimate") {
    val sk = Cms.sketch(zipf, "item", depth = 4, width = 32)
    val est = Cms.estimate(sk, zipf.distinct(), "item", 4, 32)
      .as[(String, Long)].collect().toMap
    trueCounts.foreach { case (k, n) =>
      assert(est(k) >= n, s"item $k: ${est(k)} < $n")
    }
  }

  test("generous width makes every estimate exact") {
    val sk = Cms.sketch(zipf, "item", depth = 4, width = 4096)
    val est = Cms.estimate(sk, zipf.distinct(), "item", 4, 4096)
      .as[(String, Long)].collect().toMap
    assert(est === trueCounts)
  }

  test("unseen items estimate to zero under a wide sketch") {
    val sk = Cms.sketch(zipf, "item", depth = 4, width = 4096)
    val est = Cms.estimate(sk, Seq("zzz-never-seen").toDF("item"),
      "item", 4, 4096).as[(String, Long)].collect().toMap
    assert(est("zzz-never-seen") === 0L)
  }

  test("sketches merge by cell-wise addition (count linearity)") {
    val half1 = items("a" -> 60, "b" -> 20)
    val half2 = items("a" -> 40, "b" -> 30, "c" -> 25)
    val merged = Cms.sketch(half1, "item", 4, 64)
      .union(Cms.sketch(half2, "item", 4, 64))
      .groupBy("r", "b").agg(sum("cnt").as("cnt"))
    val whole = Cms.sketch(half1.union(half2), "item", 4, 64)
    assert(merged.exceptAll(whole).isEmpty &&
      whole.exceptAll(merged).isEmpty)
  }

  test("sketch never exceeds depth x width cells") {
    val n = Cms.sketch(zipf, "item", depth = 3, width = 8).count()
    assert(n <= 3 * 8)
  }
}
