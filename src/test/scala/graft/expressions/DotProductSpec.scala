package graft.expressions

import graft.SparkSpec
import graft.functions.Similarity

class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (Array(0.1f, -0.2f, 0.3f), Array(-0.4f, 0.5f, 0.6f)),
    (Array.empty[Float], Array.empty[Float])).toDF("a", "b")

  test("native graft_dot is bit-identical to the HOF fold") {
    val r = vecs.select(
      Similarity.dot($"a", $"b").as("nat"),
      Similarity.dotHof($"a", $"b").as("hof")).collect()
    r.foreach { row =>
      assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(row.getDouble(1)))
    }
    assert(r(0).getDouble(0) === 32.0)
    assert(r(2).getDouble(0) === 0.0)
  }

  test("resolves through SQL after extension registration") {
    vecs.createOrReplaceTempView("v")
    val r = spark.sql("SELECT graft_dot(a, b) AS d FROM v").collect()
    assert(r(0).getDouble(0) === 32.0)
  }

  test("null array yields null; double arrays accepted") {
    val df = Seq((Some(Array(1.0, 2.0)), None: Option[Array[Double]]))
      .toDF("a", "b")
      .select(Similarity.dot($"a", $"a").as("aa"),
        Similarity.dot($"a", $"b").as("ab"))
    val r = df.collect()(0)
    assert(r.getDouble(0) === 5.0)
    assert(r.isNullAt(1))
  }

  test("length-mismatched arrays yield null, matching the HOF contract") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("a", "b")
      .select(Similarity.dot($"a", $"b").as("nat"),
        Similarity.dotHof($"a", $"b").as("hof"))
    val r = df.collect()(0)
    assert(r.isNullAt(0)) // not a silent truncation to min(len)
    assert(r.isNullAt(1)) // and identical to the HOF fold's null-padding
  }

  test("type mismatch is rejected at analysis") {
    val bad = Seq((Array("x"), Array(1.0f))).toDF("a", "b")
    assertThrows[org.apache.spark.sql.AnalysisException] {
      bad.select(Similarity.dot($"a", $"b")).collect()
    }
  }
}
