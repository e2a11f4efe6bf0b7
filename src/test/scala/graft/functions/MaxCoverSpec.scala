package graft.functions

import graft.SparkSpec

/** Greedy maximum-coverage selection ([[Sampling.maxCoverSelect]]):
  * hand-checkable trajectories, the lowest-id tie order, early stop when
  * the corpus is exhausted, and agreement with an independent in-memory
  * greedy on a random-ish fixture. */
class MaxCoverSpec extends SparkSpec {
  import spark.implicits._

  test("hand-checkable trajectory with early stop") {
    val docs = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("c", "d")),
      (3L, Seq("a", "b"))).toDF("doc_id", "sh")
    val got = Sampling.maxCoverSelect(docs, "doc_id", "sh", k = 3)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    // doc1 covers 3, then doc2 adds only d; doc3 is fully covered so the
    // gain frame empties and the loop stops at 2 picks
    assert(got === Seq((1, 1L, 3L), (2, 2L, 1L)))
  }

  test("ties break on the lowest id — total order, engine-independent") {
    val docs = Seq(
      (7L, Seq("x", "y")),
      (2L, Seq("p", "q")),
      (5L, Seq("x", "q"))).toDF("doc_id", "sh")
    val got = Sampling.maxCoverSelect(docs, "doc_id", "sh", k = 2)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    // three docs tie at gain 2: lowest id (2) wins round 1; round 2 has
    // doc 7 still fully uncovered (gain 2) over doc 5's remaining x
    assert(got.head === ((1, 2L, 2L)))
    assert(got(1) === ((2, 7L, 2L)))
  }

  test("matches an independent in-memory greedy on a spread fixture") {
    val docs = (1L to 40L).map { i =>
      i -> (0 until 12).map(j => s"s${(i * 7 + j * j) % 53}")
        .distinct
    }
    val got = Sampling
      .maxCoverSelect(docs.toDF("doc_id", "sh"), "doc_id", "sh", k = 6)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    // plain Scala greedy: same gain-desc, id-asc total order
    var covered = Set.empty[String]
    val ref = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    for (step <- 1 to 6) {
      val gains = docs.map { case (id, sh) => (id, sh.count(!covered(_))) }
        .filter(_._2 > 0)
      if (gains.nonEmpty) {
        val (id, g) = gains.minBy { case (i, gg) => (-gg, i) }
        ref += ((step, id, g.toLong))
        covered ++= docs.find(_._1 == id).get._2
      }
    }
    assert(got === ref.toSeq)
  }

  private def spreadDocs(n: Int): Seq[(Long, Seq[String])] =
    (1L to n).map { i =>
      i -> (0 until 12).map(j => s"s${(i * 7 + j * j) % 53}")
        .distinct.toSeq
    }

  test("CELF is output-IDENTICAL to the exact greedy (lazy-forward " +
      "exactness), including on tie-heavy fixtures") {
    val spread = spreadDocs(40).toDF("doc_id", "sh")
    val exact = Sampling.maxCoverSelect(spread, "doc_id", "sh", k = 6)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    val celf = Sampling.maxCoverSelectCelf(spread, "doc_id", "sh", k = 6)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(celf === exact)
    // tie-heavy: many equal gains force the stale-tie re-probe path
    val ties = Seq(
      (7L, Seq("x", "y")), (2L, Seq("p", "q")), (5L, Seq("x", "q")),
      (9L, Seq("y", "p")), (4L, Seq("z", "w")), (6L, Seq("z", "q")))
      .toDF("doc_id", "sh")
    assert(
      Sampling.maxCoverSelectCelf(ties, "doc_id", "sh", k = 4)
        .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1) ===
      Sampling.maxCoverSelect(ties, "doc_id", "sh", k = 4)
        .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1))
  }

  test("a doc repeating one shingle scores its DISTINCT shingles, under " +
      "both the exact greedy and CELF") {
    // doc 1 lists "r" ten times: counted per occurrence it would lead
    // with 11; over distinct shingles it covers 2 and doc 2's 3 wins
    val docs = Seq(
      (1L, Seq.fill(10)("r") :+ "a"),
      (2L, Seq("a", "b", "c"))).toDF("doc_id", "sh")
    val want = Seq((1, 2L, 3L), (2, 1L, 1L))
    assert(Sampling.maxCoverSelect(docs, "doc_id", "sh", k = 2)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1) === want)
    assert(Sampling.maxCoverSelectCelf(docs, "doc_id", "sh", k = 2)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1) === want)
  }

  test("CELF stays exact under a STARVED queue (every refill/floor path)") {
    // queueSize 2 with k 6 forces repeated refills, floor ties and
    // stale-bound re-probes — the whole invariant surface
    val spread = spreadDocs(25).toDF("doc_id", "sh")
    val exact = Sampling.maxCoverSelect(spread, "doc_id", "sh", k = 6)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    val celf = Sampling.maxCoverSelectCelf(spread, "doc_id", "sh", k = 6,
        queueSize = 2)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(celf === exact)
  }

  test("CELF early-stops like the exact operator when the corpus is " +
      "exhausted") {
    val docs = Seq(
      (1L, Seq("a", "b", "c")), (2L, Seq("c", "d")), (3L, Seq("a", "b")))
      .toDF("doc_id", "sh")
    val got = Sampling.maxCoverSelectCelf(docs, "doc_id", "sh", k = 3)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got === Seq((1, 1L, 3L), (2, 2L, 1L)))
  }

  test("stochastic-greedy at samplePct=100 IS the exact greedy") {
    val spread = spreadDocs(40).toDF("doc_id", "sh")
    val exact = Sampling.maxCoverSelect(spread, "doc_id", "sh", k = 5)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    val stoch = Sampling.maxCoverSelectStochastic(spread, "doc_id", "sh",
        k = 5, samplePct = 100)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(stoch === exact)
  }

  test("stochastic-greedy coverage floor on the planted fixture") {
    val docs = spreadDocs(40)
    val df = docs.toDF("doc_id", "sh")
    def coverage(picks: Seq[Long]): Int =
      docs.filter(d => picks.contains(d._1)).flatMap(_._2).distinct.size
    val exact = Sampling.maxCoverSelect(df, "doc_id", "sh", k = 6)
      .as[(Int, Long, Long)].collect().map(_._2).toSeq
    val stoch = Sampling.maxCoverSelectStochastic(df, "doc_id", "sh",
        k = 6, samplePct = 50)
      .as[(Int, Long, Long)].collect().map(_._2).toSeq
    // (1−1/e−ε) holds in expectation; this fixture+salt realization is
    // deterministic, pinned comfortably above the 0.63-ish bound's floor
    assert(stoch.nonEmpty)
    assert(coverage(stoch) * 10 >= coverage(exact) * 7,
      s"stochastic covered ${coverage(stoch)} vs exact ${coverage(exact)}")
  }
}
