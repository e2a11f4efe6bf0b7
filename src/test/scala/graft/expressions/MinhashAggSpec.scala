package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Dedup

/** graft_minhash (imperative long[k] buffer) must be value-identical to
  * the k-min-columns frame formulation across duplicate-heavy,
  * single-shingle, and randomized corpora. */
class MinhashAggSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "x1", "y2", "中文")
    ((1 to 60).map { i =>
      (i.toLong,
        (0 to rnd.nextInt(30)).map(_ =>
          words(rnd.nextInt(words.size)) + rnd.nextInt(50)).toSeq)
    } :+ (999L, Seq("solo"))).toDF("id", "sh")
  }

  test("md5lcg family: native agg equals the 64-min-columns frame form") {
    val nat = Dedup.minhashSignatures(corpus, "id", "sh", 64)
    val hof = Dedup.minhashSignaturesComposed(corpus, "id", "sh", 64)
    val j = nat.withColumnRenamed("sig", "natSig")
      .join(hof.withColumnRenamed("sig", "hofSig"), Seq("id"))
      .collect()
    assert(j.length === 61)
    j.foreach(r => assert(r.getSeq[Long](1) === r.getSeq[Long](2)))
  }

  test("all-null-hash group: documented divergence from the frame form") {
    // CHOSEN SEMANTICS: a group whose hash inputs are all NULL returns a
    // Long.MaxValue-filled signature (the aggregate's identity buffer),
    // where the composed frame form (min() per function) would return
    // NULL entries. Currently unreachable from every call site — hashes
    // derive from exploded non-null shingles — but pinned here so the
    // divergence is a recorded decision, not a latent surprise.
    val df = Seq((1L, Option.empty[Long]), (1L, Option.empty[Long]))
      .toDF("id", "h")
    val r = df.groupBy(col("id"))
      .agg(call_function("graft_minhash", col("h"), lit(4)).as("sig"))
      .collect()
    assert(r.length === 1)
    assert(r(0).getSeq[Long](1) === Seq.fill(4)(Long.MaxValue))
  }
}
