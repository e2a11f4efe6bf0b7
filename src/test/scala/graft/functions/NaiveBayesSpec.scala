package graft.functions

import graft.SparkSpec

class NaiveBayesSpec extends SparkSpec {
  import spark.implicits._

  /** Doc ids whose stable bucket lands in train (< 80) / test (>= 80),
    * discovered from the same function the engine uses. */
  private def split(ids: Seq[Long]): (Set[Long], Set[Long]) = {
    val b = ids.toDF("id")
      .select($"id", Sampling.stableBucket($"id").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (b.collect { case (i, v) if v < 80 => i }.toSet,
      b.collect { case (i, v) if v >= 80 => i }.toSet)
  }

  test("classify: separable vocabularies predict correctly; scores match " +
      "the hand-computed smoothed log-posterior") {
    // find one id per class that lands in the held-out bucket
    val ids = (1L to 200L)
    val (_, test) = split(ids)
    assert(test.nonEmpty)
    // even ids class "a" with vocab {x}, odd ids class "b" with vocab {y}
    val docs = ids.map(i =>
      (i, if (i % 2 == 0) "x x x" else "y y y",
        if (i % 2 == 0) "a" else "b")).toDF("doc_id", "text", "lang")
    val r = NaiveBayes.classify(docs, "doc_id", "text", "lang")
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), x.getString(2), x.getDouble(3), x.getBoolean(5))))
      .toMap
    assert(r.keySet === test)
    r.foreach { case (id, (tl, pl, _, correct)) =>
      assert(correct, s"doc $id predicted $pl, true $tl")
    }
    // hand-check one even (class a) held-out doc's score:
    //   train counts: nA docs of "x x x" → ct(x|a) = 3·nA, ntoks(a) = 3·nA
    //   V = 2; logp = ln(nA/n) + 3·ln((3·nA + 1) / (3·nA + 2))
    val (trainIds, _) = split(ids)
    val nA = trainIds.count(_ % 2 == 0).toDouble
    val n = trainIds.size.toDouble
    val someEven = test.find(_ % 2 == 0)
    someEven.foreach { id =>
      val expect = math.log(nA / n) +
        3.0 * math.log((3 * nA + 1.0) / (3 * nA + 2.0))
      val got = r(id)._3
      assert(math.abs(got - expect) < 1e-5, s"logp $got vs $expect")
    }
  }

  test("classify: zero-token and all-novel-token docs classify by prior " +
      "toward the majority class; margin is NULL only with one class") {
    // make a corpus where class "big" dominates the train split
    val ids = (1L to 120L)
    val (_, test) = split(ids)
    val docs = ids.map { i =>
      val lbl = if (i <= 100) "big" else "small"
      val text = if (test.contains(i)) "" else "shared tokens here"
      (i, text, lbl)
    }.toDF("doc_id", "text", "lang")
    val r = NaiveBayes.classify(docs, "doc_id", "text", "lang").collect()
    assert(r.nonEmpty)
    // empty held-out docs: likelihood term is 0 for every class → the
    // prior decides, and "big" has the larger prior
    r.foreach { row =>
      assert(row.getString(2) === "big")
      assert(!row.isNullAt(4))            // two classes → margin present
      assert(row.getDouble(4) > 0.0)
    }
    // single-class corpus → margin NULL, prediction trivially correct
    val one = ids.map(i => (i, "w w", "only")).toDF("doc_id", "text", "lang")
    val r1 = NaiveBayes.classify(one, "doc_id", "text", "lang").collect()
    assert(r1.nonEmpty)
    r1.foreach { row =>
      assert(row.getString(2) === "only" && row.getBoolean(5))
      assert(row.isNullAt(4))
    }
  }

  test("classify: the count-frame model never collects; scoring joins on " +
      "(class, token) and the argmax window is class-bounded") {
    val docs = (1L to 100L).map(i =>
      (i, s"tok${i % 7} tok${i % 3} filler", s"c${i % 3}"))
      .toDF("doc_id", "text", "lang")
    val plan = NaiveBayes.classify(docs, "doc_id", "text", "lang")
      .queryExecution.optimizedPlan.toString
    // broadcast-able class stats, no cartesian on the token stream
    assert(!plan.toLowerCase.contains("cartesianproduct") ||
      plan.toLowerCase.contains("broadcast"))
  }
}
