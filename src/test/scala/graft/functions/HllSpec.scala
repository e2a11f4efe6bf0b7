package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Deterministic-register HyperLogLog: estimate accuracy on known
  * cardinalities, the linear-counting branch, and bit-determinism across
  * partitionings. The merge law is `HllSketchSpec`'s. */
class HllSpec extends SparkSpec {
  import spark.implicits._

  private def terms(group: String, n: Int, salt: String = "t") =
    (0 until n).map(i => (group, s"$salt$i")).toDF("g", "term")

  test("estimate lands within the m=64 error regime on 2000 distincts") {
    val df = terms("g", 2000)
    val est = Hll.estimate(Hll.registers(df, "term", Seq("g")), Seq("g"))
      .select(col("est")).as[Long].head()
    // σ ≈ 1.04/√64 = 13%; 3σ band (deterministic — this pins the value
    // class, not a probabilistic claim)
    assert(math.abs(est - 2000) < 2000 * 0.40, s"est=$est")
  }

  test("duplicate terms cannot move the estimate") {
    val once = terms("g", 500)
    val thrice = once.union(once).union(once)
    val e1 = Hll.estimate(Hll.registers(once, "term", Seq("g")), Seq("g"))
      .select(col("est")).as[Long].head()
    val e3 = Hll.estimate(Hll.registers(thrice, "term", Seq("g")), Seq("g"))
      .select(col("est")).as[Long].head()
    assert(e1 === e3)
  }

  test("small cardinality takes the linear-counting branch") {
    val df = terms("g", 40)
    val row = Hll.estimate(Hll.registers(df, "term", Seq("g")), Seq("g"))
      .select(col("zero_regs"), col("raw_est"), col("est"))
      .as[(Long, Long, Long)].head()
    val (zeros, raw, est) = row
    assert(zeros > 0 && raw <= 160, s"zeros=$zeros raw=$raw")
    assert(est === Hll.linearCountingTable(64)(zeros.toInt - 1))
    assert(math.abs(est - 40) < 20, s"est=$est")
  }

  test("bit-identical across partitionings") {
    val df = terms("g", 1200)
    def run(parts: Int) =
      Hll.estimate(Hll.registers(df.repartition(parts), "term", Seq("g")),
        Seq("g")).select(col("zero_regs"), col("raw_est"), col("est"))
        .as[(Long, Long, Long)].head()
    assert(run(1) === run(7))
  }

  test("driver-side tables are sane") {
    val lc = Hll.linearCountingTable(64)
    assert(lc.length === 64)
    assert(lc.last === 0) // V = m ⇒ ln(1) = 0
    assert(lc === lc.sorted.reverse) // monotone decreasing in V
    assert(Hll.alphaNumerator(64) > 0)
    intercept[IllegalArgumentException](
      Hll.registers(terms("g", 3), "term", Seq("g"), m = 48))
  }
}
