package graft.functions

import graft.SparkSpec

class VocabSpec extends SparkSpec {
  import spark.implicits._

  test("minCountScrub: rare tokens become <unk>, order and count preserved") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "")).toDF("doc_id", "text")
    // counts: the=4 sat=2 on=2 cat=1 mat=1 dog=1 rug=1
    val r = Vocab.minCountScrub(docs, "doc_id", "text", minCount = 2)
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) === (("the <unk> sat on the <unk>", 6L, 2L)))
    assert(r(2L) === (("the <unk> sat on the <unk>", 6L, 2L)))
    assert(r(3L) === (("", 0L, 0L)))
  }

  test("minCountScrub: minCount=1 is the identity on normalized text") {
    val docs = Seq((1L, "Alpha  Beta\tGamma")).toDF("doc_id", "text")
    val r = Vocab.minCountScrub(docs, "doc_id", "text", minCount = 1)
      .collect().head
    assert(r.getString(1) === "alpha beta gamma")
    assert(r.getLong(3) === 0L)
  }

  test("topTerms: distinctive terms rank first, shared terms score 0") {
    val docs = Seq(
      ("a", "spark spark shuffle common"),
      ("b", "duck duck waddle common"),
      ("c", "goose honk honk common")).toDF("src", "text")
    val r = Vocab.topTerms(docs, "text", "src", k = 2)
      .collect().map(x => (x.getString(0), x.getInt(1), x.getString(2),
        x.getDouble(3)))
    val byGrp = r.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byGrp("a").head._3 === "spark")        // tf=2, df=1
    assert(byGrp("b").head._3 === "duck")
    assert(byGrp("c").head._3 === "honk")
    assert(!r.exists(_._3 == "common"))           // df=G ⇒ score 0, never top-2
    assert(byGrp("a").head._4 > byGrp("a")(1)._4) // rank order = score order
  }

  test("topTerms: deterministic tie-break by token, k bounds output") {
    val docs = Seq(("a", "x y z"), ("b", "p q r")).toDF("src", "text")
    val r = Vocab.topTerms(docs, "text", "src", k = 2)
      .collect().map(x => (x.getString(0), x.getInt(1), x.getString(2)))
    assert(r.length === 4)                         // 2 groups × k
    assert(r.filter(_._1 == "a").sortBy(_._2).map(_._3).toSeq === Seq("x", "y"))
  }

  test("pmiTopK: hand-computed scores, minCount floor, rarer-but-tighter " +
      "pair ranks higher") {
    // uni: a3 b3 c2 d2 e1 f1 (n=12); bi: "a b"x3 "c d"x2 "e f"x1 (nb=6)
    // pmi(a b) = ln((3/6)/((3/12)(3/12))) = ln 8;  pmi(c d) = ln 12
    val docs = Seq("a b", "a b", "a b", "c d", "c d", "e f").map(Tuple1(_))
      .toDF("text")
    val r = Vocab.pmiTopK(docs, "text", minCount = 2, k = 10)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
    assert(r.map(_._1).toSeq === Seq("c d", "a b")) // "e f" under the floor
    assert(r(0)._3 === math.BigDecimal(math.log(12.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r(1)._2 === 3L)
    assert(r(1)._3 === math.BigDecimal(math.log(8.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("pmiTopK: ties break bigram-ascending and k truncates") {
    // two structurally identical pairs → equal pmi; order must be lexical
    val docs = Seq("a b", "a b", "c d", "c d").map(Tuple1(_)).toDF("text")
    val r = Vocab.pmiTopK(docs, "text", minCount = 1, k = 1).collect()
    assert(r.length === 1)
    assert(r.head.getString(0) === "a b")
  }

  test("driftTopK: integer ppm shifts, vanished/appeared tokens covered, " +
      "floor ppm sums stay <= 1e6 per side") {
    val oldDocs = Seq("a a b", "a c").map(Tuple1(_)).toDF("text")  // a:3 b:1 c:1 of 5
    val newDocs = Seq("b b b d").map(Tuple1(_)).toDF("text")       // b:3 d:1 of 4
    val got = Vocab.driftTopK(oldDocs, newDocs, "text", k = 10)
      .as[(String, Long, Long, Long)].collect()
    val byTok = got.map(r => r._1 -> r).toMap
    assert(byTok("a") === (("a", 600000L, 0L, 600000L)))       // vanished
    assert(byTok("b") === (("b", 200000L, 750000L, 550000L)))
    assert(byTok("d") === (("d", 0L, 250000L, 250000L)))       // appeared
    assert(byTok("c") === (("c", 200000L, 0L, 200000L)))
    // ranked by shift desc; floor division keeps per-side mass <= 1e6
    assert(got.map(_._4).toSeq === got.map(_._4).toSeq.sorted.reverse)
    assert(got.map(_._2).sum <= 1000000L && got.map(_._3).sum <= 1000000L)
  }

  test("chi2TopK: perfect class markers score N·1e6, independent tokens 0") {
    val docs = Seq(
      (1L, "x y", "A"), (2L, "x", "A"),
      (3L, "z", "B"), (4L, "z y", "B")
    ).toDF("doc_id", "text", "lang")
    val got = Vocab.chi2TopK(docs, "doc_id", "text", "lang", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // x and z perfectly mark their class: χ² = N = 4 → 4e6 µ; y is
    // class-independent: 0. Ties break token-ascending.
    assert(got.toSeq === Seq(("x", 2L, 4000000L), ("z", 2L, 4000000L),
      ("y", 2L, 0L)))
  }

  test("chi2TopK: a token present in every doc scores 0 (guarded division)") {
    val docs = Seq((1L, "all x", "A"), (2L, "all", "B"))
      .toDF("doc_id", "text", "lang")
    val got = Vocab.chi2TopK(docs, "doc_id", "text", "lang", topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got("all") === 0L)
    assert(got("x") === 2000000L) // perfect marker of A: χ² = N = 2
  }

  test("coverage: top-k mass in exact floor-ppm; k beyond the vocabulary " +
      "covers everything") {
    import spark.implicits._
    // counts: a×4, b×2, c×1 → total 7
    val docs = Seq("a a b", "a a b c").toDF("text")
    val m = Vocab.coverage(docs, "text", Seq(1, 2, 100)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(m(1L) === ((4L, 7L, 571428L)))   // floor(4e6/7)
    assert(m(2L) === ((6L, 7L, 857142L)))
    assert(m(100L) === ((7L, 7L, 1000000L)))
  }

  test("coverage ties at the k boundary break on (count desc, token)") {
    import spark.implicits._
    // b and c tie at 2; k=2 must take a (3) then b (alphabetical)
    val docs = Seq("a a a b b c c").toDF("text")
    val m = Vocab.coverage(docs, "text", Seq(2)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(2L) === 5L)
  }

  test("bigramSuggest: top continuations per context, count-then-token " +
      "order, k bound respected") {
    import spark.implicits._
    val docs = Seq("a b", "a b", "a c", "a d", "b a").toDF("text")
    val got = Vocab.bigramSuggest(docs, "text", topK = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    // context a: b (2) then c (alphabetical over the c/d tie); d cut by k
    assert(got === Array(("a", "b", 2L, 1), ("a", "c", 1L, 2),
      ("b", "a", 1L, 1)))
  }

  test("perplexityBuckets: ONE repeated doc family scores head, the " +
      "outlier doc lands in tail, counts conserve") {
    import spark.implicits._
    val docs = (1L to 8L).map(i => (i, "the cat sat on the mat")) :+
      (9L, "zq xv qq zz yy ww")
    val out = LangModel.perplexityBuckets(docs.toDF("doc_id", "text"),
      "doc_id", "text").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.values.map(_._1).sum === 9L)
    assert(out("tail")._1 >= 1L)  // the gibberish doc cannot be head
    // the 8 repeated docs share ONE entropy value ≤ both thresholds, so
    // they all land in head (middle is empty — equal keys share a bucket)
    def n(b: String) = out.get(b).map(_._1).getOrElse(0L)
    assert(n("head") + n("middle") === 8L)
  }

  test("zipfFit: planted two-point power law recovers the exact integer " +
      "LS slope; flat single-bucket corpus guards to 0") {
    import spark.implicits._
    // 8 types once each (bucket x=1, y=len(bin(8))=4) and 1 type 8 times
    // (bucket x=4, y=len(bin(1))=1): slope = (1-4)/(4-1) = -1 exactly
    val docs = ((('a' to 'h').map(_.toString) ++ Seq.fill(8)("zz"))
      .mkString(" ") :: Nil).toDF("text")
    val r = Vocab.zipfFit(docs, "text").collect()(0)
    assert(r.getLong(0) === 2L)        // n_buckets
    assert(r.getLong(1) === 9L)        // vocab_size
    assert(r.getLong(2) === -1000000L) // slope_ppm = −1.0 exactly
    // every type at the same frequency → one bucket → zero denominator
    val flat = Seq("a b c d").toDF("text")
    assert(Vocab.zipfFit(flat, "text").collect()(0).getLong(2) === 0L)
  }
}
