package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class PqSpec extends SparkSpec {
  import spark.implicits._

  // 40 deterministic 8-dim vectors: two loose clusters + per-id jitter
  private def corpus = (0L until 40L).map { i =>
    val v = Array.tabulate(8) { d =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      base * (1.0f + 0.1f * d) + 0.03f * ((i * 7 + d * 3) % 11)
    }
    (i, v)
  }.toDF("nid", "nv")

  private def queries = corpus.filter($"nid" < 4)
    .select($"nid".as("qid"), $"nv".as("qv"))

  /** Exact squared-L2 top-k via expressions — the differential expectation. */
  private def bruteL2TopK(k: Int): Set[(Long, Int, Long)] = {
    val d2 = aggregate(
      zip_with($"nv".cast("array<double>"), $"qv".cast("array<double>"),
        (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, d) => a + d)
    corpus.join(broadcast(queries))
      .filter($"nid" =!= $"qid")
      .withColumn("d2", d2)
      .withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"d2".asc, $"nid".asc)))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"nid").as[(Long, Int, Long)]
      .collect().toSet
  }

  private def resultSet(df: DataFrame): Set[(Long, Int, Long)] =
    df.select(col("query_id"), col("rank"), col("neighbor_id"))
      .as[(Long, Int, Long)].collect().toSet

  /** Mean squared reconstruction error of the codes `withCodes` assigns:
    * each vector against the concatenation of its codewords. */
  private def mse(cb: Pq.Codebooks): Double = {
    val errs = Pq.withCodes(corpus, "nv", cb).select($"nv", $"codes")
      .as[(Seq[Float], Seq[Int])].collect().map { case (v, codes) =>
        val recon = codes.zipWithIndex.flatMap { case (c, s) => cb(s)(c) }
        v.zip(recon).map { case (x, y) => (x - y) * (x - y) }.sum
      }
    errs.sum / errs.length
  }

  test("withCodes: m codes per row, each in [0, k), deterministic") {
    val cb = Pq.trainCodebooks(corpus, "nid", "nv", m = 4, k = 8, iters = 3)
    assert(cb.length === 4 && cb.forall(_.length === 8) &&
      cb.forall(_.forall(_.length === 2)))
    def codes = Pq.withCodes(corpus, "nv", cb).select($"nid", $"codes")
      .as[(Long, Seq[Int])].collect().toMap
    val c1 = codes
    assert(c1.size === 40)
    assert(c1.values.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 8)))
    assert(c1 === codes)
  }

  test("lossless mode: k = corpus size, iters = 0 ⇒ zero reconstruction " +
      "error and ADC ≡ exact L2 top-k") {
    val cb = Pq.anchorCodebooks(corpus, "nid", "nv", m = 4, k = 40)
    val coded = Pq.withCodes(corpus, "nv", cb)
    assert(mse(cb) === 0.0)
    val adc = Pq.adcTopK(coded.select($"nid", $"codes"), "nid", "codes",
      queries, "qid", "qv", cb, k = 5, salts = 1)
    assert(resultSet(adc) === bruteL2TopK(5))
  }

  test("Lloyd iterations do not increase reconstruction error vs anchors") {
    val anchor = Pq.anchorCodebooks(corpus, "nid", "nv", m = 4, k = 6)
    val trained = Pq.trainCodebooks(corpus, "nid", "nv", m = 4, k = 6, iters = 4)
    val mseAnchor = mse(anchor)
    val mseTrained = mse(trained)
    assert(mseTrained <= mseAnchor)
    assert(mseTrained > 0.0) // k=6 < 40 rows: genuinely lossy
  }

  test("lossy ADC keeps useful recall@5 against exact L2 on the fixture") {
    val cb = Pq.trainCodebooks(corpus, "nid", "nv", m = 4, k = 8, iters = 4)
    val coded = Pq.withCodes(corpus, "nv", cb)
    val adc = resultSet(Pq.adcTopK(coded.select($"nid", $"codes"), "nid",
      "codes", queries, "qid", "qv", cb, k = 5, salts = 1))
      .map(r => (r._1, r._3))
    val exact = bruteL2TopK(5).map(r => (r._1, r._3))
    val recall = (adc & exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  test("rerankTopK with shortlist >= corpus equals exact cosine brute force") {
    val cb = Pq.trainCodebooks(corpus, "nid", "nv", m = 4, k = 8, iters = 3)
    val coded = Pq.withCodes(corpus, "nv", cb).select($"nid", $"codes")
    val reranked = resultSet(Pq.rerankTopK(coded, "nid", "codes",
      corpus, "nv", queries, "qid", "qv", cb, k = 5, shortlist = 40,
      salts = 1))
    val brute = resultSet(Similarity.bruteForceTopK(corpus, "nid", "nv",
      queries, "qid", "qv", k = 5))
    assert(reranked === brute)
  }

  test("exact re-rank never lowers cosine recall vs raw ADC order") {
    val cb = Pq.trainCodebooks(corpus, "nid", "nv", m = 4, k = 8, iters = 3)
    val coded = Pq.withCodes(corpus, "nv", cb).select($"nid", $"codes")
    val exact = resultSet(Similarity.bruteForceTopK(corpus, "nid", "nv",
      queries, "qid", "qv", k = 5)).map(r => (r._1, r._3))
    def recall(got: Set[(Long, Int, Long)]) =
      (got.map(r => (r._1, r._3)) & exact).size.toDouble / exact.size
    val adc = recall(resultSet(Pq.adcTopK(coded, "nid", "codes",
      queries, "qid", "qv", cb, k = 5, salts = 1)))
    val rr = recall(resultSet(Pq.rerankTopK(coded, "nid", "codes",
      corpus, "nv", queries, "qid", "qv", cb, k = 5, shortlist = 15,
      salts = 1)))
    assert(rr >= adc, s"rerank recall $rr < adc recall $adc")
  }

  test("L2 coarse metric separates magnitude-only clusters that cosine " +
      "cells cannot distinguish") {
    // every vector points the SAME direction; clusters differ in magnitude
    val mag = (0L until 20L).map { i =>
      val scale = if (i % 2 == 0) 10.0f else 0.1f
      (i, Array.tabulate(8)(d => scale * (1.0f + 0.01f * ((i + d) % 3))))
    }.toDF("nid", "nv")
    val cents = Ivf.train(mag, "nid", "nv", k = 2, iters = 3, metric = "l2")
    val vecs = mag.withColumn("_n", sqrt(Similarity.dot($"nv", $"nv")))
    val cells = Ivf.assign(vecs, "nid", "nv", "_n", cents, metric = "l2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val big = (0L until 20L by 2).map(cells).toSet
    val small = (1L until 20L by 2).map(cells).toSet
    assert(big.size === 1 && small.size === 1 && big != small)
  }
}
