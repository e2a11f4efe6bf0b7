package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("stableBucket is a pure function of the key, in range, engine-free") {
    val df = (0L until 500L).toDF("id")
    val b1 = df.select(Sampling.stableBucket($"id").as("b")).collect().map(_.getLong(0))
    val b2 = df.select(Sampling.stableBucket($"id").as("b")).collect().map(_.getLong(0))
    assert(b1.toSeq === b2.toSeq)                  // deterministic
    assert(b1.forall(b => b >= 0 && b < 100))
    assert(b1.distinct.length > 50)                // actually spreads
    // closed form for one key: first 8 md5 hex digits of "42"
    val md5_42 = java.security.MessageDigest.getInstance("MD5")
      .digest("42".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = java.lang.Long.parseLong(md5_42.take(8), 16) % 100
    assert(b1(42) === expect)
  }

  test("splitLabel partitions ~80/10/10 and never reassigns on growth") {
    val small = (0L until 300L).toDF("id")
      .select($"id", Sampling.splitLabel($"id").as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val grown = (0L until 600L).toDF("id")
      .select($"id", Sampling.splitLabel($"id").as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    small.foreach { case (id, s) => assert(grown(id) === s) } // stable
    val frac = grown.values.groupBy(identity).view.mapValues(_.size / 600.0)
    assert(frac("train") > 0.7 && frac("train") < 0.9)
    assert(frac("val") > 0.04 && frac("val") < 0.17)
  }

  test("corpusStats: one-pass doc/token/vocab/dup counts") {
    val docs = Seq(
      (1L, "a b a"), (2L, "a b a"),   // exact dups of each other
      (3L, "c d"), (4L, "")).toDF("doc_id", "text")
    val r = Sampling.corpusStats(docs, "doc_id", "text").collect()(0)
    assert(r.getLong(r.fieldIndex("n_docs")) === 4L)
    assert(r.getLong(r.fieldIndex("n_tokens")) === 8L)
    assert(r.getLong(r.fieldIndex("vocab_size")) === 4L)  // a b c d
    assert(r.getLong(r.fieldIndex("n_exact_dups")) === 1L)
  }

  test("chunkTokens: overlapping windows, short tail, empty doc drops") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "only two"),
      (3L, "")).toDF("doc_id", "text")
    val chunks = docs
      .select($"doc_id", TextFunctions.tokens($"text").as("_toks"))
      .select($"doc_id",
        posexplode(TextFunctions.chunkTokens($"_toks", 4, 3))
          .as(Seq("idx", "chunk")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    assert(d1 === Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(chunks.filter(_._1 == 2L).map(_._3).toSeq === Seq("only two"))
    assert(!chunks.exists(_._1 == 3L))
  }

  test("packBins: greedy id-order packing within shards, pure function") {
    val docs = Seq((1L, 300L), (2L, 300L), (3L, 100L), (4L, 600L))
      .toDF("doc_id", "n_tokens")
    val packed = Sampling.packBins(docs, "doc_id", "n_tokens",
        lit(0L), target = 512)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(r.fieldIndex("bin")), r.getLong(r.fieldIndex("offset_in_bin"))))
      .toMap
    assert(packed(1L) === ((0L, 0L)))     // starts bin 0 offset 0
    assert(packed(2L) === ((0L, 300L)))   // still bin 0 (starts at 300)
    assert(packed(3L) === ((1L, 88L)))    // cum 600 → bin 1, offset 88
    assert(packed(4L) === ((1L, 188L)))
  }

  test("global top-K (orderBy+limit) plans as TakeOrderedAndProject, " +
      "not a global sort") {
    val df = (0L until 1000L).map(i => (i, s"tok${i % 37}"))
      .toDF("id", "token")
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token".asc).limit(10)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    assert(df.collect().length === 10)
  }

  test("shardsForVolume: ceil of volume over target, at least 1") {
    val docs = Seq((1L, 100L), (2L, 200L), (3L, 50L)).toDF("id", "n")
    assert(Sampling.shardsForVolume(docs, "n", tokensPerShard = 100) === 4)
    assert(Sampling.shardsForVolume(docs, "n", tokensPerShard = 350) === 1)
    assert(Sampling.shardsForVolume(docs.filter($"id" < 0), "n", 100) === 1)
  }

  test("contaminationReport finds planted train/test n-gram overlap") {
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, "train", shared + " eta theta"),              // train source
      (2L, "test", shared),                              // fully contaminated
      (3L, "test", "totally unrelated words go here now"),
      (4L, "val", shared + " and some fresh unseen tail words here"),
      (5L, "test", "tiny"))                              // < n tokens
      .toDF("doc_id", "split", "text")
      .select($"doc_id", $"split",
        TextFunctions.wordShingles($"text", 3).as("sh"))
    val r = Sampling.contaminationReport(docs, "doc_id", "sh", "split")
      .collect().map(x => x.getLong(0) ->
        (x.getString(1), x.getLong(2), x.getLong(3),
          x.getDouble(x.fieldIndex("contamination")))).toMap
    assert(!r.contains(1L))                  // train rows aren't reported
    assert(r(2L) === (("test", 4L, 4L, 1.0))) // every shingle seen in train
    assert(r(3L)._3 === 0L && r(3L)._4 === 0.0)
    assert(r(4L)._3 === 4L && r(4L)._4 < 1.0) // only the shared prefix hits
    assert(r(5L) === (("test", 0L, 0L, 0.0))) // shingle-less doc, no NaN
  }

  test("contaminationReport plans as one equi-join on the shingle key — " +
      "no nested-loop join, and the corpus is shingled exactly twice") {
    val docs = (0L until 50L).map(i =>
      (i, if (i % 10 == 0) "train" else "test",
        s"some shared words plus token$i tail piece here"))
      .toDF("doc_id", "split", "text")
      .select($"doc_id", $"split",
        TextFunctions.wordShingles($"text", 3).as("sh"))
    val qe = Sampling.contaminationReport(docs, "doc_id", "sh", "split")
      .queryExecution
    val plan = qe.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // one shingling subtree per side (train + test), no third evaluation
    // for the size column
    val generates = qe.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(generates.length === 2)
  }

  test("stratifiedSample: per-stratum rates, default rate, and monotone " +
      "membership (raising a rate only adds rows)") {
    val docs = (0L until 400L).map(i =>
      (i, if (i % 2 == 0) "en" else "other")).toDF("id", "lang")
    def kept(rates: Map[String, Int], dflt: Int): Set[Long] =
      Sampling.stratifiedSample(docs, $"id", $"lang", rates, dflt)
        .select("id").as[Long].collect().toSet
    val a = kept(Map("en" -> 80), 20)
    // rates land near the declared percentages per stratum
    val en = a.count(_ % 2 == 0).toDouble / 200
    val ot = a.count(_ % 2 == 1).toDouble / 200
    assert(en > 0.7 && en < 0.9, s"en rate $en")
    assert(ot > 0.1 && ot < 0.3, s"other rate $ot")
    // monotone: raising any rate yields a superset, never a reshuffle
    val b = kept(Map("en" -> 95), 60)
    assert(a.subsetOf(b))
    // same bucket rule as stableSample: stratum at 100 keeps everything
    assert(kept(Map("en" -> 100), 100).size === 400)
  }

  test("repetitionProfile: looping text scores high, diverse text low") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),        // one gram repeated
      (2L, "the quick brown fox jumps over dogs"),  // all distinct grams
      (3L, "hi"),                                   // < n tokens → 0 grams
      (4L, "")).toDF("doc_id", "text")
    val r = Sampling.repetitionProfile(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3))).toMap
    assert(r(1)._1 === 5L)           // 6 tokens → 5 bigrams
    assert(r(1)._2 === 1.0)          // "spam spam" every time
    assert(r(1)._3 === 0.2)          // 1 distinct / 5
    assert(r(2)._2 < 0.2)            // no repetition
    assert(r(2)._3 === 1.0)
    assert(r(3) === ((0L, 0.0, 0.0)))
    assert(r(4) === ((0L, 0.0, 0.0)))
  }

  test("stratumExamples: n per stratum, deterministic hash order, and the " +
      "plan limits map-side (WindowGroupLimit)") {
    val docs = (0L until 100L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "lang")
    val ex = Sampling.stratumExamples(docs, $"id", $"lang", n = 2)
    val rows = ex.collect().map(r => (r.getString(1), r.getInt(2), r.getLong(0)))
    assert(rows.count(_._1 == "a") === 2 && rows.count(_._1 == "b") === 2)
    // rerun picks the identical examples
    val again = Sampling.stratumExamples(docs, $"id", $"lang", n = 2)
      .collect().map(r => (r.getString(1), r.getInt(2), r.getLong(0)))
    assert(rows.toSet === again.toSet)
    // partial top-k before the shuffle: the rank<=n filter must plan as
    // WindowGroupLimit so a huge stratum never floods one reducer
    assert(ex.queryExecution.sparkPlan.toString.contains("WindowGroupLimit"))
  }

  test("qualityCalibration: exact percentiles interpolate like quantile_cont") {
    // alpha ratios: 1.0, 0.4, 0.8, 0.0 → sorted [0, .4, .8, 1]
    val docs = Seq((1L, "aaaa"), (2L, "aa 11"), (3L, "the the the the"),
      (4L, "1234")).toDF("doc_id", "text")
    val r = Sampling.qualityCalibration(docs, "doc_id", "text").collect()(0)
    assert(r.getLong(r.fieldIndex("n_docs")) === 4L)
    // h = (n-1)p: p10 → .3 into [0,.4] = .12; p50 → 1.5 = .6; p90 → 2.7 = .94
    assert(r.getDouble(r.fieldIndex("alpha_ratio_p10")) === 0.12)
    assert(r.getDouble(r.fieldIndex("alpha_ratio_p50")) === 0.6)
    assert(r.getDouble(r.fieldIndex("alpha_ratio_p90")) === 0.94)
  }

  test("tokenBudgetMixture: rates follow the integer formula, under-budget " +
      "strata keep everything, zero-share strata drop out") {
    // lang a: 10 docs × 10 tokens = 100; lang b: 10 × 30 = 300
    val docs = (0L until 20L).map { i =>
      val lang = if (i < 10) "a" else "b"
      (i, lang, if (i < 10) 10L else 30L)
    }.toDF("id", "lang", "ntok")
    val out = Sampling.tokenBudgetMixture(docs, $"id", $"lang", $"ntok",
      budgetTokens = 200L, sharePctByStratum = Map("a" -> 75, "b" -> 25),
      defaultSharePct = 0)
    val rates = out.select($"lang", $"rate_ppm").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a: target 150 > 100 tokens → rate 10⁶ (keep all)
    // b: target 50 of 300 → 10⁶*50 // 300 = 166666 ppm
    assert(rates("a") === 1000000L)
    assert(rates.get("b").forall(_ === 166666L))
    assert(out.filter($"lang" === "a").count() === 10L)
    // membership is the stable bucket — monotone: raising the budget only
    // ever ADDS rows
    val kept = out.select($"id").collect().map(_.getLong(0)).toSet
    val bigger = Sampling.tokenBudgetMixture(docs, $"id", $"lang", $"ntok",
      budgetTokens = 600L, sharePctByStratum = Map("a" -> 75, "b" -> 25),
      defaultSharePct = 0)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(bigger))
    // a stratum with zero share keeps nothing
    val none = Sampling.tokenBudgetMixture(docs, $"id", $"lang", $"ntok",
      budgetTokens = 200L, sharePctByStratum = Map("a" -> 100),
      defaultSharePct = 0)
    assert(none.filter($"lang" === "b").count() === 0L)
  }

  test("tokenBudgetMixture: a stratum whose volume exceeds 100x its target " +
      "still samples (ppm rates do not floor to zero)") {
    // volume 10k tokens, target 10 tokens → 1000x over target: percent
    // granularity floors to rate 0 (the whole stratum silently dropped);
    // ppm granularity gives 1000 ppm and keeps ~10 docs
    val docs = (0L until 10000L).map(i => (i, "en", 1L)).toDF("id", "lang", "ntok")
    val out = Sampling.tokenBudgetMixture(docs, $"id", $"lang", $"ntok",
      budgetTokens = 20L, sharePctByStratum = Map("en" -> 50),
      defaultSharePct = 0).cache()
    val n = out.count()
    assert(n > 0L, "stratum was silently dropped")
    assert(n < 100L, s"rate should be ~1000 ppm, kept $n of 10000")
    assert(out.select($"rate_ppm").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(1000L))
    out.unpersist()
  }

  test("lengthBucketBatches: ladder assignment, batch fill order, padding " +
      "arithmetic, and shard determinism") {
    // 10 docs in one shard: 5 short (<=16 bucket), 5 at 100 tokens (128)
    val docs = ((1L to 5L).map(id => (id, 10L + id)) ++
      (6L to 10L).map(id => (id, 100L))).toDF("doc_id", "n_tokens")
    val r = Sampling.lengthBucketBatches(docs, "doc_id", "n_tokens",
      batchSize = 3, shards = 1).collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2)) ->
        ((x.getLong(3), x.getLong(4), x.getLong(5), x.getDouble(6)))).toMap
    // bucket 16: docs 1-5 (11..15 tokens) → batches [1,2,3] and [4,5]
    assert(r((16, 0L, 0L)) === ((3L, 13L, 36L,
      BigDecimal(1.0 - 36.0 / 39.0).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(r((16, 0L, 1L)) === ((2L, 15L, 29L,
      BigDecimal(1.0 - 29.0 / 30.0).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // bucket 128: uniform lengths → zero padding waste
    assert(r((128, 0L, 0L)) === ((3L, 100L, 300L, 0.0)))
    assert(r((128, 0L, 1L)) === ((2L, 100L, 200L, 0.0)))
    assert(r.size === 4)
    // shard split is the stable md5 bucket — pure function of doc_id
    val sharded = Sampling.lengthBucketBatches(docs, "doc_id", "n_tokens",
      batchSize = 3, shards = 4)
    val again = Sampling.lengthBucketBatches(docs, "doc_id", "n_tokens",
      batchSize = 3, shards = 4)
    assert(sharded.collect().toSeq.sortBy(_.toString) ===
      again.collect().toSeq.sortBy(_.toString))
    // every batch within batchSize; totals conserved
    assert(sharded.agg(sum($"n_docs")).collect().head.getLong(0) === 10L)
    assert(sharded.select(max($"n_docs")).collect().head.getLong(0) <= 3L)
  }

  test("groupSplit: whole dedup groups share a split; singletons hash " +
      "by their own id") {
    val docs = (1L to 10L).toDF("doc_id")
    // groups: {1,2,3} -> comp 1, {7,8} -> comp 7; rest singleton
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "comp")
    val out = Sampling.groupSplit(docs, $"doc_id", groups)
      .as[(Long, Long, Long, String)].collect()
    val byDoc = out.map(r => r._1 -> r).toMap
    assert(out.length === 10)
    // group coherence: every member carries the component's id and split
    Seq(1L, 2L, 3L).foreach(d => assert(byDoc(d)._2 === 1L))
    Seq(7L, 8L).foreach(d => assert(byDoc(d)._2 === 7L))
    assert(Seq(1L, 2L, 3L).map(byDoc(_)._4).distinct.size === 1)
    assert(Seq(7L, 8L).map(byDoc(_)._4).distinct.size === 1)
    // singleton buckets equal their own-id stable bucket
    val own = docs.select($"doc_id",
      Sampling.stableBucket($"doc_id").as("b"))
      .as[(Long, Long)].collect().toMap
    Seq(4L, 5L, 6L, 9L, 10L).foreach { d =>
      assert(byDoc(d)._2 === d && byDoc(d)._3 === own(d))
    }
  }

  test("contrastive negatives: deterministic, exclusion-safe, k-bounded") {
    val docs = (0L until 40L).map(i => (i, s"src${i % 4}"))
      .toDF("doc_id", "source")
    val anchors = docs.filter($"doc_id" < 3)
    def run() = Sampling.contrastiveNegatives(anchors, "doc_id", "source",
        docs, "doc_id", "source", k = 4, salts = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val a = run()
    assert(a.toSeq === run().toSeq) // stable draw, not RNG
    assert(a.length === 3 * 4)
    a.foreach { case (anchor, _, neg) =>
      assert(neg !== anchor)
      assert(neg % 4 !== anchor % 4, "same-source negative leaked")
    }
    // ranks are 1..k per anchor
    assert(a.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4)))
  }

  test("weightedSample: matches an independent A-Res reference; excludes w <= 0") {
    def refKey(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val h = java.lang.Long.parseLong(hex, 16)
      math.log((h + 0.5) / 281474976710656.0) / w
    }
    val rows = (1L to 30L).map(i => (i, i * 37 % 101 + 1)) :+ (99L, 0L)
    val expected = rows.filter(_._2 > 0)
      .sortBy { case (id, w) => (-refKey(id, w), id) }.take(10).toSet
    val got = Sampling.weightedSample(rows.toDF("doc_id", "n_chars"),
        "doc_id", $"n_chars", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(!got.exists(_._1 == 99L)) // zero-weight row can never sample
  }

  test("weightedSample: heavier weights dominate the draw") {
    // one doc carries 10^9 weight vs 29 singletons: ln(u)/w ≈ 0 beats
    // every unit-weight key unless u is astronomically small
    val rows = (1L to 30L).map(i => (i, if (i == 7L) 1000000000L else 1L))
    val top = Sampling.weightedSample(rows.toDF("doc_id", "n_chars"),
      "doc_id", $"n_chars", k = 1).collect()
    assert(top.head.getLong(0) === 7L)
  }

  test("contrastive negatives: small pools exhaust below k") {
    val docs = Seq((0L, "a"), (1L, "b"), (2L, "b"), (3L, "b"))
      .toDF("doc_id", "source")
    val out = Sampling.contrastiveNegatives(docs.filter($"doc_id" === 0L),
        "doc_id", "source", docs, "doc_id", "source", k = 10, salts = 1)
      .collect()
    assert(out.length === 3) // only the three cross-source docs qualify
  }

  test("epochsReport: epochs_ppm = 1e6 * tokens / (budget * share / 100); " +
      "default share applies to unlisted strata") {
    val docs = Seq(("en", 100L), ("en", 150L), ("de", 30L))
      .toDF("lang", "n_tok")
    val m = Sampling.epochsReport(docs, $"lang", $"n_tok",
        budgetTokens = 1000L, sharePctByStratum = Map("en" -> 50),
        defaultSharePct = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // en: 250 tokens, target 500 → half an epoch = 500000 ppm
    assert(m("en") === ((250L, 50L, 500L, 500000L)))
    // de: 30 tokens, target 100 → 300000 ppm
    assert(m("de") === ((30L, 10L, 100L, 300000L)))
  }

  test("splitBalance: shares are per-split-total floor-ppm and the gap " +
      "is the max pairwise difference") {
    // single length bucket → every split's share of its own total is 1e6
    val docs = (1L to 200L).map(i => (i, 10L)).toDF("doc_id", "n_chars")
    val rows = Sampling.splitBalance(docs, $"doc_id", $"n_chars").collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getLong(1) === 1000000L && r.getLong(2) === 1000000L &&
      r.getLong(3) === 1000000L && r.getLong(4) === 0L)
  }

  test("sourceConcentration: single-source stratum scores 1e6; an even " +
      "split scores ~1e6/k; shares are exact floor-ppm") {
    val docs = Seq(
      ("en", "a"), ("en", "a"), ("en", "a"),          // en: all from a
      ("de", "a"), ("de", "b"),                        // de: even over 2
      ("fr", "a"), ("fr", "a"), ("fr", "b"))           // fr: 2/3 vs 1/3
      .toDF("lang", "source")
    val m = Sampling.sourceConcentration(docs, $"lang", $"source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m("en") === ((3L, 1L, 1000000L, 1000000L)))
    // de: (1²+1²)/2² = 1/2 → 500000; top share 1/2
    assert(m("de") === ((2L, 2L, 500000L, 500000L)))
    // fr: (4+1)/9 = 555555.5 → floor 555555; top 2/3 → 666666
    assert(m("fr") === ((3L, 2L, 555555L, 666666L)))
  }

  test("waterfillBudget: uniform cap clips the head, never starves the " +
      "tail; whole-corpus-fits and over-tight budgets hit the guards") {
    // masses: s1=2, s2=5, s3=40 tokens (one doc each)
    def doc(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(("s1", doc(2)), ("s2", doc(5)), ("s3", doc(40)))
      .toDF("source", "text")
    def run(b: Long) = Sampling.waterfillBudget(docs, "source", "text", b)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // B=17: freeze k*=2 (2+5 kept, affordable), level=(17-7)/1=10 → s3
    // clipped to 10; Σ alloc = 17 = B exactly
    val m = run(17L)
    assert(m("s1") === ((2L, 10L, 2L, 0L)))
    assert(m("s2") === ((5L, 10L, 5L, 0L)))
    assert(m("s3") === ((40L, 10L, 10L, 1L)))
    // B ≥ total: level = max mass, nothing capped
    val all = run(100L)
    assert(all("s3") === ((40L, 40L, 40L, 0L)))
    assert(all.values.forall(_._4 === 0L))
    // B below n·c_min: k*=0, level = B div n = 1 — every source capped
    // except those at/below the level
    val tight = run(5L)
    assert(tight.values.forall(_._2 === 1L))
    assert(tight("s1") === ((2L, 1L, 1L, 1L)))
    assert(tight.values.map(_._3).sum === 3L) // ≤ B, max-min fair
  }
}
