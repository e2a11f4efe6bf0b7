package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** k-center farthest-point selection ([[Similarity.kCenterSelect]]):
  * agreement with an independent in-memory Gonzalez greedy (same seed
  * rule, same total order), early stop when the corpus is exhausted, and
  * the determinism of the stable-hash seed. */
class KCenterSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  /** Deterministic spread vectors — distinct directions so distances are
    * unambiguous. */
  private def fixture(n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map { i =>
      val v = Array.tabulate(dim)(d =>
        (math.sin(i * 1.7 + d * 0.9) + 0.1 * d).toFloat)
      (100L + i, v)
    }

  /** Independent greedy: cosine over doubles, seed = engine's stable
    * bucket order (recomputed THROUGH the engine to share the md5 rule),
    * argmax on (mind desc, id asc). */
  private def refGreedy(vs: Seq[(Long, Array[Float])], seed: Long,
                        k: Int): Seq[(Int, Long, Option[Long])] = {
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) =>
        acc + a(i).toDouble * b(i).toDouble)
    def dist(a: Array[Float], b: Array[Float]): Double =
      1.0 - dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val byId = vs.toMap
    var mind = vs.map { case (id, v) => id -> dist(v, byId(seed)) }.toMap
    var picks = Vector[(Int, Long, Option[Long])]((1, seed, None))
    for (st <- 2 to k if picks.size == st - 1) {
      val rem = mind.filterNot(kv => picks.exists(_._2 == kv._1))
      if (rem.nonEmpty) {
        val (id, d) = rem.minBy { case (i, dd) => (-dd, i) }
        picks :+= ((st, id, Some(math.floor(d * 1e6).toLong)))
        mind = mind.map { case (i, dd) =>
          i -> math.min(dd, dist(byId(i), byId(id))) }
      }
    }
    picks
  }

  /** The engine's seed: the stable-bucket-lowest id. */
  private def seedOf(df: org.apache.spark.sql.DataFrame): Long = df
    .orderBy(Sampling.stableBucket(col("vec_id"), 1 << 30), col("vec_id"))
    .limit(1).as[(Long, Array[Float])].collect()(0)._1

  test("matches the independent Gonzalez greedy (order, picks, floors)") {
    val vs = fixture(30)
    val df = vs.toDF("vec_id", "embedding")
    val seed = seedOf(df)
    val got = Similarity.kCenterSelect(df, "vec_id", "embedding", k = 5)
      .as[(Int, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(got === refGreedy(vs, seed, 5))
    // farthest-point means strictly positive distances on spread data
    assert(got.tail.forall(_._3.exists(_ > 0)))
  }

  test("BATCHED with batch=1 is the exact Gonzalez greedy frame-for-frame") {
    val vs = fixture(30)
    val df = vs.toDF("vec_id", "embedding")
    val seed = seedOf(df)
    val batched = Similarity
      .kCenterSelect(df, "vec_id", "embedding", k = 6, batch = 1)
      .as[(Int, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(batched === refGreedy(vs, seed, 6))
  }

  test("BATCHED covers planted clusters and rounds are non-increasing " +
      "in distance") {
    // three TIGHT well-separated clusters along distinct axes; batch=2
    // may spend round one inside the far cluster, but by k=4 every
    // cluster holds a center — the planted-coverage guarantee
    def cl(axis: Int, i: Int): Array[Float] =
      Array.tabulate(dim)(d =>
        (if (d == axis) 10f else 0f) + 0.01f * ((i * 7 + d) % 5))
    val vs = (0 until 5).map(i => (100L + i, cl(0, i))) ++
      (0 until 5).map(i => (200L + i, cl(3, i))) ++
      (0 until 5).map(i => (300L + i, cl(6, i)))
    val got = Similarity.kCenterSelect(
        vs.toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 4, batch = 2)
      .as[(Int, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(got.size === 4)
    val clusters = got.map(_._2 / 100L).toSet
    assert(clusters === Set(1L, 2L, 3L))
    // across rounds the farthest distance cannot grow (mind only falls);
    // round boundaries for (k=4, batch=2) are steps {2,3} then {4}
    val d23 = got.filter(r => r._1 == 2 || r._1 == 3).flatMap(_._3)
    val d4 = got.filter(_._1 == 4).flatMap(_._3)
    assert(d4.forall(_ <= d23.min))
  }

  test("k > corpus stops early with every point selected once") {
    val vs = fixture(3)
    val got = Similarity.kCenterSelect(vs.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 10)
      .as[(Int, Long, Option[Long])].collect().toSeq
    assert(got.size === 3)
    assert(got.map(_._2).distinct.size === 3)
  }
}
