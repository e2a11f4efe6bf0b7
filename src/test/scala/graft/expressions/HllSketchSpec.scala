package graft.expressions

import graft.SparkSpec
import graft.functions.Hll
import org.apache.spark.sql.functions._

/** graft_hll_regs (TypedImperativeAggregate) vs the frame-based
  * Hll.registers oracle twin: bit-identical registers, bit-identical
  * estimates, partial/merge correctness across partitionings, rollup
  * grand total = register-wise merge, null skipping. */
class HllSketchSpec extends SparkSpec {
  import spark.implicits._

  private val m = 64

  private def terms(group: String, n: Int, salt: String = "t") =
    (0 until n).map(i => (group, s"$salt$i")).toDF("g", "term")

  /** frame path registers as a dense m-int array per group */
  private def frameRegs(df: org.apache.spark.sql.DataFrame) =
    Hll.estimate(Hll.registers(df, "term", Seq("g")), Seq("g"), m)

  private def aggRegs(df: org.apache.spark.sql.DataFrame) =
    Hll.estimateFromRegs(
      df.groupBy(col("g")).agg(Hll.sketchAgg("term", m).as("_regs")),
      "_regs", m)

  test("estimates are bit-identical to the frame formulation across " +
      "groups and partitionings") {
    val df = terms("a", 1500).union(terms("b", 40, "u"))
      .union(terms("c", 3, "v"))
    for (parts <- Seq(1, 7)) {
      val d = df.repartition(parts)
      val frame = frameRegs(d).orderBy("g")
        .select("g", "zero_regs", "raw_est", "est").collect().toSeq
      val agg = aggRegs(d).orderBy("g")
        .select("g", "zero_regs", "raw_est", "est").collect().toSeq
      assert(frame === agg)
    }
  }

  test("register arrays match Hll.registers exactly") {
    val df = terms("g", 777)
    val sparse = Hll.registers(df, "term", Seq("g"), m)
      .select(col("reg").cast("int"), col("max_rho").cast("int"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val full = df.groupBy(col("g")).agg(Hll.sketchAgg("term", m).as("r"))
      .select(posexplode(col("r")).as(Seq("reg", "rho")))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    (0 until m).foreach { reg =>
      assert(full(reg) === sparse.getOrElse(reg, 0), s"reg $reg")
    }
  }

  test("rollup grand total equals the register-wise merge of groups") {
    val df = terms("a", 900).union(terms("b", 600, "u"))
    val viaRollup = Hll.estimateFromRegs(
      df.rollup(col("g")).agg(Hll.sketchAgg("term", m).as("_regs"))
        .filter(grouping(col("g")) === 1).drop("g"), "_regs", m)
      .select("est").as[Long].head()
    val viaUnion = aggRegs(df.withColumn("g", lit("all")))
      .select("est").as[Long].head()
    assert(viaRollup === viaUnion)
  }

  test("cross-run merge: one snapshot's sketch merged with the next " +
      "snapshot's sketch equals the union's sketch") {
    val snapA = terms("g1", 800).union(terms("g2", 50, "u"))
    val snapB = terms("g1", 400, "w").union(terms("g3", 90, "v"))
    def sk(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("g")).agg(Hll.sketchAgg("term", m).as("_regs"))
    // merge snapshot B's sketch into snapshot A's — NO rescan of
    // snapshot A's terms anywhere on this path
    val merged = sk(snapA)
      .withColumnRenamed("_regs", "_ra")
      .join(sk(snapB).withColumnRenamed("_regs", "_rb"),
        Seq("g"), "full_outer")
      .select(col("g"), Hll.mergeRegs(col("_ra"), col("_rb"), m).as("_regs"))
    val union = sk(snapA.union(snapB))
    val got = Hll.estimateFromRegs(merged, "_regs", m)
      .orderBy("g").collect().map(_.toString).toSeq
    val want = Hll.estimateFromRegs(union, "_regs", m)
      .orderBy("g").collect().map(_.toString).toSeq
    assert(got === want)
    // and register-level equality, not just equal estimates
    val regsEq = merged.withColumnRenamed("_regs", "_m")
      .join(union.withColumnRenamed("_regs", "_u"), Seq("g"))
      .filter(not(col("_m") === col("_u"))).count()
    assert(regsEq === 0)
  }

  test("null terms are skipped; duplicates cannot move a register") {
    val withNulls = Seq(("g", Some("x1")), ("g", None), ("g", Some("x2")),
      ("g", Some("x1"))).toDF("g", "term")
    val clean = Seq(("g", "x1"), ("g", "x2")).toDF("g", "term")
    assert(aggRegs(withNulls).select("est").as[Long].head() ===
      aggRegs(clean).select("est").as[Long].head())
  }
}
