package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** BPE: pair statistics, training (vs an independent in-memory reference
  * implementation), greedy-overlap semantics, and encode/train agreement. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // ---- independent reference implementation (the test oracle) ----------
  private def refMergeWord(sym: List[String], a: String,
                           b: String): List[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    sym.foreach { s =>
      if (out.nonEmpty && out.last == a && s == b)
        out(out.length - 1) = a + b
      else out += s
    }
    out.toList
  }

  private def refTrain(vocab: Map[String, Long], n: Int,
                       minCount: Long = 2L): List[(String, String)] = {
    var syms = vocab.map { case (w, f) => (w.split("").toList, f) }.toList
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (merges.length < n && continue) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      syms.foreach { case (s, f) =>
        s.zip(s.drop(1)).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + f)
      }
      if (counts.isEmpty) continue = false
      else {
        val (pair, cnt) = counts.toList
          .sortBy { case ((l, r), c) => (-c, l, r) }.head
        if (cnt < minCount) continue = false
        else {
          merges += pair
          syms = syms.map { case (s, f) =>
            (refMergeWord(s, pair._1, pair._2), f) }
        }
      }
    }
    merges.toList
  }

  private val classicVocab = Map(
    "low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  private def vocabDf(v: Map[String, Long]) = v.toSeq.toDF("word", "freq")

  test("pairStats matches hand-counted adjacent pairs; 1-char words drop") {
    val got = Bpe.pairStats(
      vocabDf(Map("ab" -> 3L, "abc" -> 2L, "a" -> 99L)), "word", "freq")
      .as[(String, Long)].collect().toMap
    assert(got === Map("ab" -> 5L, "bc" -> 2L))
  }

  test("train reproduces the reference merges on the classic vocabulary") {
    val got = Bpe.train(vocabDf(classicVocab), "word", "freq", numMerges = 8)
    assert(got === refTrain(classicVocab, 8))
    assert(got.nonEmpty && got.head === ("e", "s")) // es freq 9 wins round 0
  }

  test("tie-break is (count desc, left asc, right asc)") {
    val got = Bpe.train(vocabDf(Map("cd" -> 2L, "ab" -> 2L)),
      "word", "freq", numMerges = 1)
    assert(got === List(("a", "b")))
  }

  test("greedy left-to-right overlap: aaa -> [aa, a]") {
    val merges = Seq(("a", "a"))
    val got = Seq("aaa", "aaaa", "baaab").toDF("w")
      .select(Bpe.encode(col("w"), merges).as("e"))
      .as[Seq[String]].collect().toList
    assert(got === List(Seq("aa", "a"), Seq("aa", "aa"),
      Seq("b", "aa", "a", "b")))
  }

  test("encode agrees with the reference under the trained table") {
    val merges = Bpe.train(vocabDf(classicVocab), "word", "freq", 6)
    val got = classicVocab.keys.toSeq.toDF("w")
      .select(col("w"), Bpe.encode(col("w"), merges).as("e"))
      .as[(String, Seq[String])].collect().toMap
    classicVocab.keys.foreach { w =>
      val ref = merges.foldLeft(w.split("").toList) {
        case (s, (a, b)) => refMergeWord(s, a, b) }
      assert(got(w) === ref, s"word $w")
    }
    // trained segmentation is non-trivial (not all single chars)
    assert(got.values.exists(_.exists(_.length > 1)))
  }

  test("minCount stops training before degenerate merges") {
    val got = Bpe.train(vocabDf(Map("ab" -> 1L, "cd" -> 1L)),
      "word", "freq", numMerges = 5, minCount = 2L)
    assert(got.isEmpty)
  }

  test("LOCAL trainer is bit-identical to the distributed one (stats too)") {
    // classic vocab plus tie-heavy and overlap-heavy words so the argmax
    // tie-break and the greedy-overlap pass are both exercised
    val vocab = classicVocab ++ Map("aaa" -> 4L, "abab" -> 3L, "zz" -> 2L)
    val df = vocabDf(vocab)
    val dist = Bpe.trainStats(df, "word", "freq", numMerges = 12)
    val local = Bpe.trainStatsLocal(df, "word", "freq", numMerges = 12)
    assert(local === dist)
  }

  test("LOCAL trainer is bit-identical on the real sf0.001 corpus") {
    val words = Bpe.wordCounts(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      col("text"))
    val dist = Bpe.trainStats(words, "word", "freq", numMerges = 8)
    val local = Bpe.trainStatsLocal(words, "word", "freq", numMerges = 8)
    assert(local === dist && local.nonEmpty)
  }

  test("CORPUS-grain encode equals the naive per-occurrence encode on the " +
      "real sf0.001 corpus; token-less docs keep an empty row") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((-1L, "   \t  "), (-2L, "newest widest newest"))
        .toDF("doc_id", "text"))
    val words = Bpe.wordCounts(docs, col("text"))
    val merges = Bpe.trainLocal(words, "word", "freq", numMerges = 6,
      minCount = 1L)
    val corpus = Bpe.encodeCorpus(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).mkString(" "))
      .toMap
    // naive twin: encode EVERY occurrence (no vocabulary dedup), then
    // reassemble per doc in word order — the semantics encodeCorpus's
    // distinct-word composition must reproduce exactly
    val occ = docs.select(col("doc_id"),
      posexplode(TextFunctions.tokens(col("text")))
        .as(Seq("_p", "word")))
    val perOcc = Bpe.encodeWords(occ, "word", merges, out = "_s")
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("_p"), col("_s")))),
        x => x("_s"))).as("tokens"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).mkString(" "))
      .toMap
    assert(perOcc.nonEmpty)
    assert(perOcc.forall { case (id, enc) => corpus.get(id).contains(enc) })
    assert(corpus(-1L) === "") // token-less doc kept, empty tokens
    assert(corpus.keySet ===
      docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet)
  }

  test("LOCAL trainer sustains 1000+ merges (the realistic-vocab mode)") {
    // synthetic 3000-word vocabulary over a 20-letter alphabet: enough
    // pair structure that 1200 merges stay productive — the scale the
    // per-merge-Spark-job distributed loop cannot reach
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 3000).map { i =>
      val len = 6 + rnd.nextInt(10)
      val w = (0 until len).map(_ => ('a' + rnd.nextInt(20)).toChar).mkString
      (w + i.toString, 1L + rnd.nextInt(50))
    }
    val merges = Bpe.trainStatsLocal(vocab.toDF("word", "freq"),
      "word", "freq", numMerges = 1200)
    assert(merges.size >= 1000)
    // trajectory sanity: steps are 1..n and every count clears minCount
    assert(merges.map(_._1) === (1 to merges.size))
    assert(merges.forall(_._4 >= 2L))
  }

  test("SERVING encoder is bit-identical to the expression fold on the " +
      "real sf0.001 corpus") {
    val words = Bpe.wordCounts(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      col("text"))
    val merges = Bpe.trainLocal(words, "word", "freq", numMerges = 20)
    assert(merges.nonEmpty)
    val fold = words.withColumn("sym", Bpe.encode(col("word"), merges))
      .select("word", "sym").as[(String, Seq[String])].collect().toMap
    val trie = Bpe.encodeWords(words, "word", merges)
      .select("word", "sym").as[(String, Seq[String])].collect().toMap
    assert(trie === fold)
  }

  test("SERVING kernel replays the fold on DUPLICATE-pair merge tables " +
      "and random words (the rank-floor equivalence, exhaustively)") {
    // local fold twin: one greedy pass per table entry, in order
    def foldLocal(w: String, ms: Seq[(String, String)]): Seq[String] = {
      var sym = w.split("").filter(_.nonEmpty)
      ms.foreach { case (a, b) =>
        sym = sym.foldLeft(Array.empty[String]) { (acc, s) =>
          if (acc.nonEmpty && acc.last == a && s == b)
            acc.dropRight(1) :+ (a + b)
          else acc :+ s
        }
      }
      sym.toSeq
    }
    val rnd = new scala.util.Random(7)
    val alphabet = "abc"
    for (round <- 0 until 200) {
      // random table over a tiny alphabet so pairs re-form often; ~1 in
      // 3 tables repeats a pair — the duplicate-rank path runs for real
      val n = 1 + rnd.nextInt(6)
      var toks = alphabet.map(_.toString).toIndexedSeq
      val ms = (0 until n).map { _ =>
        val p = (toks(rnd.nextInt(toks.size)), toks(rnd.nextInt(toks.size)))
        toks = toks :+ (p._1 + p._2)
        p
      }
      val rk = Bpe.rankTable(ms)
      for (_ <- 0 until 20) {
        val w = (0 until 1 + rnd.nextInt(10))
          .map(_ => alphabet(rnd.nextInt(3))).mkString
        assert(Bpe.encodeWordLocal(w, rk, ms).toSeq === foldLocal(w, ms),
          s"round $round word $w table $ms")
      }
    }
    // and one HAND-PLANTED duplicate: (a,b) at ranks 1 and 3; rank 2
    // builds "ab" a second way is impossible for 2-char tokens, so
    // plant the 3-char shape: ranks (y,z), (x,yz), (xy ...) cannot be
    // forced here — the random sweep above covers re-formed adjacencies;
    // this case pins that a LITERAL repeat in the table is legal input
    val dup = Seq(("a", "b"), ("c", "d"), ("a", "b"))
    val rkDup = Bpe.rankTable(dup)
    assert(rkDup(("a", "b")).toSeq === Seq(1, 3))
    assert(Bpe.encodeWordLocal("abcdab", rkDup, dup.toIndexedSeq).toSeq ===
      foldLocal("abcdab", dup))
  }

  test("SERVING encoder carries a null word as a null sym — the fold " +
      "path's SQL null propagation, not an NPE") {
    val df = Seq(Some("ab"), None).toDF("word")
    val rows = Bpe.encodeWords(df, "word", Seq(("a", "b"))).collect()
    assert(rows.exists(_.isNullAt(1)))
    assert(rows.exists(r => !r.isNullAt(1) &&
      r.getSeq[String](1) == Seq("ab")))
  }

  test("LOCAL trainer fails LOUDLY past maxWords instead of OOMing") {
    val ex = intercept[IllegalArgumentException] {
      Bpe.trainStatsLocal(vocabDf(classicVocab), "word", "freq",
        numMerges = 1, maxWords = 2)
    }
    assert(ex.getMessage.contains("maxWords"))
  }

  test("trainStats carries the per-round winning counts of the reference") {
    // reference trajectory with counts, recomputed per round
    var syms = classicVocab.map { case (w, f) => (w.split("").toList, f) }
    val expect = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    for (step <- 1 to 5) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      syms.foreach { case (s, f) =>
        s.zip(s.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val ((a, b), c) =
        counts.toList.sortBy { case ((l, r), n) => (-n, l, r) }.head
      expect += ((step, a, b, c))
      syms = syms.map { case (s, f) => (refMergeWord(s, a, b), f) }
    }
    val got = Bpe.trainStats(vocabDf(classicVocab), "word", "freq", 5)
    assert(got === expect.toSeq)
    assert(got.map(_._1) === (1 to 5)) // steps are 1-based and dense
    assert(got.head._4 === 9L) // es: newest 6 + widest 3
  }
}
