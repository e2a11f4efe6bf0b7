package graft.functions

import graft.SparkSpec

class EmbeddingsSpec extends SparkSpec {
  import spark.implicits._

  test("dimStats reports integer-µ moments per dimension") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, -0.5f)),
      (2L, Seq(3.0f, 0.0f, 0.5f))
    ).toDF("id", "vec")
    val rows = Embeddings.dimStats(df, "vec").orderBy("dim").collect()
    assert(rows.length == 3)
    // dim 0: values 1e6, 3e6 → mean 2e6, var = ((2*10e12)-(4e6)^2)/4 = 1e12
    val d0 = rows(0)
    assert(d0.getLong(1) == 2L)            // n
    assert(d0.getLong(2) == 2000000L)      // mean_us
    assert(d0.getLong(3) == 1000000000000L) // var_us2
    assert(d0.getLong(4) == 1000000L && d0.getLong(5) == 3000000L)
    assert(d0.getLong(6) == 0L)
    // dim 1: dead dimension — zero mean, zero var, all zeros
    val d1 = rows(1)
    assert(d1.getLong(2) == 0L && d1.getLong(3) == 0L && d1.getLong(6) == 2L)
    // dim 2: symmetric ±0.5 → mean 0, var (0.5e6)^2 = 2.5e11
    val d2 = rows(2)
    assert(d2.getLong(2) == 0L && d2.getLong(3) == 250000000000L)
  }

  test("negative mean floor-divides (engine-exact vs a truncating //)") {
    val df = Seq((1L, Seq(-1.0f)), (2L, Seq(-2.0f)), (3L, Seq(2.0f)))
      .toDF("id", "vec")
    val r = Embeddings.dimStats(df, "vec").collect().head
    // sum = -1e6 over n=3 → floor(-333333.33) = -333334, NOT -333333
    assert(r.getLong(2) == -333334L)
  }

  test("centroidOutliers: the planted far vector ranks first with the " +
      "exact integer µ² score") {
    // three clustered vectors + one far outlier; centroid µ (floor) is
    // hand-computable: dim sums (µ): [1e6+2e6+3e6+30e6, 0+0+0+40e6]
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f)),
      (3L, Seq(3.0f, 0.0f)),
      (9L, Seq(30.0f, 40.0f))).toDF("id", "vec")
    val rows = Embeddings.centroidOutliers(df, "id", "vec", topK = 2).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(9L, 1L))
    // µ = (36e6/4, 40e6/4) = (9e6, 10e6); vec 9 dev = (21e6, 30e6)
    assert(rows(0).getLong(1) === 21000000L * 21000000L + 30000000L * 30000000L)
    // vec 1 dev = (-8e6, -10e6)
    assert(rows(1).getLong(1) === 8000000L * 8000000L + 10000000L * 10000000L)
  }

  test("centroidOutliers: ties break by id and negative means floor " +
      "consistently") {
    val df = Seq(
      (5L, Seq(-1.0f)), (6L, Seq(-1.0f)), (7L, Seq(-2.0f))).toDF("id", "vec")
    // sum = -4e6, n = 3 → µ = floor(-4e6/3) = -1333334
    val rows = Embeddings.centroidOutliers(df, "id", "vec", topK = 3).collect()
    // devs: 5/6 → 333334² each, 7 → -666666² ; outlier 7 first, then 5, 6
    assert(rows.map(_.getLong(0)).toSeq === Seq(7L, 5L, 6L))
    assert(rows(0).getLong(1) === 666666L * 666666L)
    assert(rows(1).getLong(1) === 333334L * 333334L)
    assert(rows(1).getLong(1) === rows(2).getLong(1))
  }

  test("kmeansExact: two planted clusters recover exactly with zero " +
      "inertia on tight groups; partitioning-invariant") {
    // seeds = two lowest ids (one per cluster by construction)
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(10.0f, 10.0f)),
      (3L, Seq(0.0f, 0.0f)), (4L, Seq(10.0f, 10.0f)),
      (5L, Seq(0.0f, 0.0f))).toDF("id", "vec")
    val out = Embeddings.kmeansExact(df, "id", "vec", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out === Map(0L -> ((3L, 0L)), 1L -> ((2L, 0L))))
    val rep = Embeddings.kmeansExact(df.repartition(5), "id", "vec",
        k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(rep === out)
  }

  test("kmeansExact: a centroid moves to the floor-mean and inertia is " +
      "the exact integer sum") {
    // 1D: seeds 1→0.0, 2→4.0; cluster {0, 1} vs {4}: round-1 centroid of
    // cell 0 = floor((0 + 1e6)/2) = 500000
    val df = Seq((1L, Seq(0.0f)), (2L, Seq(4.0f)), (3L, Seq(1.0f)))
      .toDF("id", "vec")
    val out = Embeddings.kmeansExact(df, "id", "vec", k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // final assignment vs c1: cell0 at 500000µ → dists 500000² ×2
    assert(out(0L) === ((2L, 2L * 500000L * 500000L)))
    assert(out(1L) === ((1L, 0L)))
  }

  test("classSeparation: centroid distances are exact, pairs are " +
      "canonical (label_a < label_b), coincident classes score 0") {
    val df = Seq(
      (1L, Seq(0.0f, 0.0f), 0), (2L, Seq(2.0f, 0.0f), 0),  // centroid (1, 0)
      (3L, Seq(1.0f, 3.0f), 1), (4L, Seq(1.0f, 5.0f), 1),  // centroid (1, 4)
      (5L, Seq(1.0f, 0.0f), 2))                             // centroid (1, 0)
      .toDF("id", "vec", "label")
    val m = Embeddings.classSeparation(df, "vec", "label").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m === Map(
      (0, 1) -> 4000000L * 4000000L,
      (1, 2) -> 4000000L * 4000000L,
      (0, 2) -> 0L)) // labels 0 and 2 share a centroid — unseparable
  }

  test("topComponentPpm: variance concentrated on one axis loads that " +
      "axis at exactly 1e6 and the dead axis at 0") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f)),
      (3L, Seq(3.0f, 0.0f))).toDF("id", "vec")
    // centered devs: x = (-1e6, 0, 1e6), y = 0 → scatter [[2e12,0],[0,0]]
    val m = Embeddings.topComponentPpm(df, "id", "vec", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(0L -> 1000000L, 1L -> 0L))
  }

  test("topComponentPpm: perfectly correlated dims load equally; result " +
      "is partitioning-invariant") {
    val df = Seq(
      (1L, Seq(1.0f, 1.0f)),
      (2L, Seq(2.0f, 2.0f)),
      (3L, Seq(3.0f, 3.0f))).toDF("id", "vec")
    val one = Embeddings.topComponentPpm(df, "id", "vec")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one === Map(0L -> 1000000L, 1L -> 1000000L))
    val many = Embeddings.topComponentPpm(df.repartition(7), "id", "vec")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(many === one)
  }

  test("plan shape: one aggregate over the explode, no join/window") {
    val df = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    val plan = Embeddings.dimStats(df, "vec")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }
}
