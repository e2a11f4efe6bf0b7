package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import graft.functions.TextFunctions
import graft.operators.{AggExpr, Skew}
import graft.schema.Types

/** Property tests for the typing rules, the aggregation merge algebra, and
  * the text kernels (SURVEY §5: ScalaCheck for agg/typing kernels).
  * Spark-backed properties evaluate ALL generated cases in one DataFrame
  * per property — one job, not one per case. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Raw-scalacheck forAll (the scalatestplus bridge isn't in the offline
    * dependency cache): sample the generator N times, skipping empties. */
  private def forAll[A](gen: Gen[A], n: Int = 50)(body: A => Unit): Unit = {
    var runs = 0
    var attempts = 0
    while (runs < n && attempts < n * 20) {
      gen.sample.foreach { v => body(v); runs += 1 }
      attempts += 1
    }
    assert(runs > 0, "generator never produced a value")
  }

  private val scalarTypes: Gen[DataType] =
    Gen.oneOf(StringType, BooleanType, LongType, IntegerType,
      FloatType, DoubleType)

  test("widest-type selection is order-insensitive and idempotent") {
    forAll(Gen.nonEmptyListOf(scalarTypes)) { ts =>
      val w = Types.widest(ts)
      assert(Types.widest(ts.reverse) === w)
      assert(Types.widest(w :: ts) === w)
      // float beats everything present with it
      if (ts.exists(t => t == FloatType || t == DoubleType))
        assert(w == FloatType || w == DoubleType)
    }
  }

  test("agg-then-merge over arbitrary partitions equals direct aggregation") {
    // values with duplicates, split into 1..5 salt groups at random
    val gen = for {
      vs <- Gen.nonEmptyListOf(Gen.chooseNum(-50L, 50L))
      salts <- Gen.chooseNum(1, 5)
    } yield (vs, salts)
    forAll(gen, n = 15) { case (vs, salts) =>
      val df = vs.zipWithIndex
        .map { case (v, i) => ("k", i % salts, v) }.toDF("k", "salt", "v")
      val partials = df.groupBy($"k", $"salt").agg(
        AggExpr.agg("count", $"v").as("c"), AggExpr.agg("sum", $"v").as("s"),
        AggExpr.agg("min", $"v").as("mn"), AggExpr.agg("max", $"v").as("mx"),
        AggExpr.agg("set", $"v").as("st"))
      val merged = partials.groupBy($"k").agg(
        AggExpr.merge("count", $"c").as("c"), AggExpr.merge("sum", $"s").as("s"),
        AggExpr.merge("min", $"mn").as("mn"), AggExpr.merge("max", $"mx").as("mx"),
        AggExpr.merge("set", $"st").as("st")).collect()(0)
      assert(merged.getLong(1) === vs.length.toLong)
      assert(merged.getLong(2) === vs.sum)
      assert(merged.getLong(3) === vs.min)
      assert(merged.getLong(4) === vs.max)
      assert(merged.getSeq[Long](5) === vs.distinct.sorted)
    }
  }

  test("token/shingle invariants over arbitrary strings") {
    val texts = Gen.listOfN(200,
      Gen.oneOf(
        Gen.asciiPrintableStr,
        Gen.listOf(Gen.oneOf("word", "a", "bb", " ", "\t", "123", "!?"))
          .map(_.mkString(" ")))).sample.get
    val df = texts.toDF("text").select(
      TextFunctions.tokens($"text").as("toks"),
      TextFunctions.wordShingles($"text", 3).as("sh"),
      TextFunctions.contentFingerprint($"text").as("fp"))
    df.collect().foreach { r =>
      val toks = r.getSeq[String](0)
      val sh = r.getSeq[String](1)
      // no empty or whitespace tokens; all lowercase
      assert(toks.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)))
      assert(toks.forall(t => t == t.toLowerCase))
      // shingle count: distinct 3-grams of the token stream
      assert(sh.toSet === toks.sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet)
      // md5 fingerprint is 32 hex chars
      assert(r.getString(2).matches("[0-9a-f]{32}"))
    }
  }

  test("chunking invariants: full coverage, fixed overlap, exact windows") {
    val cases = Gen.listOfN(150, for {
      n <- Gen.choose(0, 40)
      size <- Gen.choose(1, 8)
      stride <- Gen.choose(1, size) // stride > size is rejected by contract
    } yield (n, size, stride)).sample.get
    cases.zipWithIndex.foreach { case ((n, size, stride), i) =>
      val toks = (0 until n).map(k => s"t$k")
      val chunks = Seq(Tuple1(toks)).toDF("toks")
        .select(TextFunctions.chunkTokens($"toks", size, stride).as("c"))
        .collect()(0).getSeq[String](0).map(_.split(" ").filter(_.nonEmpty).toSeq)
      if (n == 0) assert(chunks.isEmpty, s"case $i")
      else {
        // every token appears in at least one chunk (full coverage)...
        assert(chunks.flatten.toSet === toks.toSet, s"case $i ($n,$size,$stride)")
        // ...chunk k starts at k*stride and is exactly the slice
        chunks.zipWithIndex.foreach { case (c, k) =>
          assert(c === toks.slice(k * stride, k * stride + size), s"case $i")
        }
        // last chunk reaches the end of the doc
        assert(chunks.length === 1 + math.max(0, math.ceil((n - size).toDouble / stride).toInt), s"case $i")
      }
    }
  }

  test("components on random graphs match a driver-side union-find") {
    val pairGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 24L), Gen.chooseNum(0L, 24L)))
    forAll(pairGen, n = 5) { pairs =>
      val nontrivial = pairs.filter { case (a, b) => a != b }
      if (nontrivial.nonEmpty) {
        // oracle: classic path-compressed union-find on the driver
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        nontrivial.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(ra max rb) = ra min rb
        }
        // min id per component (find again after all unions)
        val ids = nontrivial.flatMap { case (a, b) => Seq(a, b) }.distinct
        val expect = ids.groupBy(find).flatMap { case (_, members) =>
          val m = members.min
          members.map(_ -> m)
        }
        val got = graft.functions.Dedup.componentsFromPairs(
            nontrivial.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expect)
      }
    }
  }

  test("salted aggregation equals direct aggregation for random salt counts") {
    forAll(Gen.chooseNum(1, 32), n = 8) { salts =>
      val df = spark.range(500).select(
        ($"id" % 3).cast("string").as("k"), $"id".as("v"))
      val direct = df.groupBy("k").agg(sum("v").as("s")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val salted = Skew.saltedAgg(df, Seq("k"), col("v"), salts,
        Seq(("s", "sum", col("v")))).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(salted === direct)
    }
  }

  test("winnowing guarantee: any shared token run of length >= window+n-1 " +
      "yields a shared fingerprint; fingerprints are always n-gram hashes") {
    // random docs over a small vocab, with a random shared run spliced into
    // two of them — the SIGMOD'03 coverage theorem must hold for every case
    val n = 3; val window = 4
    val word = Gen.oneOf((0 until 12).map(i => s"w$i"))
    val gen = for {
      run <- Gen.listOfN(window + n - 1, word) // exactly threshold length
      pre1 <- Gen.listOfN(5, word); post1 <- Gen.listOfN(3, word)
      pre2 <- Gen.listOfN(2, word); post2 <- Gen.listOfN(6, word)
    } yield (
      (pre1 ++ run ++ post1).mkString(" "),
      (pre2 ++ run ++ post2).mkString(" "))
    // evaluate all sampled cases in ONE DataFrame job
    val cases = (0 until 40).flatMap(_ => gen.sample).zipWithIndex
      .map { case ((a, b), i) => Seq((i * 2L, a), (i * 2L + 1, b)) }
    val docs = cases.flatten.toDF("doc_id", "text")
    val fps = graft.functions.Dedup
      .winnowFingerprints(docs, "doc_id", "text", n, window)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val grams = docs
      .select($"doc_id", explode(TextFunctions.wordNgrams($"text", n)).as("g"))
      .select($"doc_id", graft.functions.Dedup.Md5Hasher($"g").as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    cases.foreach { pair =>
      val Seq((idA, _), (idB, _)) = pair
      assert((fps(idA) intersect fps(idB)).nonEmpty,
        s"docs $idA/$idB share a ${window + n - 1}-token run but no fingerprint")
      assert(fps(idA).subsetOf(grams(idA)) && fps(idB).subsetOf(grams(idB)))
    }
  }

  test("waterfill invariants on random masses/budgets: never over budget, " +
      "tail kept whole, head uniformly capped, exact when budget covers all") {
    val gen = for {
      masses <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 500L))
      budget <- Gen.chooseNum(0L, 2000L)
    } yield (masses.take(8), budget)
    forAll(gen, n = 12) { case (masses, budget) =>
      if (budget >= 1 && masses.nonEmpty) {
        val docs = masses.zipWithIndex.map { case (m, i) =>
          (s"s$i", Seq.fill(m.toInt)("w").mkString(" "))
        }.toDF("source", "text")
        val out = graft.functions.Sampling
          .waterfillBudget(docs, "source", "text", budget)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
        val total = masses.sum
        val level = out.head._3
        assert(out.forall(_._3 === level))                 // one level
        assert(out.map(_._4).sum <= budget || total <= budget)
        out.foreach { case (_, m, l, a, capped) =>
          assert(a === math.min(m, l))                     // uniform cap
          assert(capped === (if (m > l) 1L else 0L))
        }
        if (total <= budget)                               // all kept
          assert(out.forall(r => r._4 === r._2))
      }
    }
  }
}
