package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private def corpus = Seq(
    (1L, base),
    (2L, base),                              // exact dup of 1
    (3L, base + " extra"),                   // near dup of 1/2
    (4L, "completely different content about spark query engines and shuffles"),
    (5L, "")).toDF("doc_id", "text")

  test("exactGroups: identical normalized docs share a group") {
    val g = Dedup.exactGroups(corpus, "doc_id", "text")
      .filter($"group_size" > 1).collect()
    assert(g.length === 1)
    assert(g(0).getAs[Seq[Long]]("member_ids") === Seq(1L, 2L))
    assert(g(0).getAs[Long]("keep_id") === 1L)
  }

  test("normalizedGroups: punctuation/case variants collapse into one group " +
      "and n_variants counts the distinct exact fingerprints") {
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello world"),                  // normalization-only variant of 1
      (3L, "HELLO -- world."),              // another variant, same norm
      (4L, "hello world"),                  // exact dup of 2
      (5L, "unrelated text")).toDF("doc_id", "text")
    val g = Dedup.normalizedGroups(docs, "doc_id", "text")
      .filter($"group_size" > 1).collect()
    assert(g.length === 1)
    assert(g(0).getAs[Seq[Long]]("member_ids") === Seq(1L, 2L, 3L, 4L))
    assert(g(0).getAs[Long]("keep_id") === 1L)
    // three distinct exact-normalized spellings collapsed into the group
    assert(g(0).getAs[Long]("n_variants") === 3L)
    // plain exact dedup would NOT have grouped 1 with 2
    val exact = Dedup.exactGroups(docs, "doc_id", "text")
      .filter($"group_size" > 1).collect()
    assert(exact.length === 1 &&
      exact(0).getAs[Seq[Long]]("member_ids") === Seq(2L, 4L))
  }

  test("exactDupSavings: redundant docs/chars exclude the kept min-id " +
      "member; unique docs contribute nothing") {
    val docs = Seq(
      (1L, "same text", 9L), (2L, "same text", 9L), (3L, "same text", 9L),
      (7L, "unique content", 14L)).toDF("doc_id", "text", "n_chars")
    val r = Dedup.exactDupSavings(docs, "doc_id", "text", "n_chars")
      .collect().head
    assert(r.getLong(0) === 4L)           // n_docs
    assert(r.getLong(1) === 2L)           // redundant: docs 2 and 3
    assert(r.getLong(2) === 41L)          // total chars
    assert(r.getLong(3) === 18L)          // 2 × 9 redundant chars
    assert(r.getLong(4) === 18L * 1000000L / 41L) // floor ppm
  }

  test("groupSizeHistogram: log2 buckets over exact-group sizes") {
    val docs = (Seq.tabulate(5)(i => (i.toLong, "big group")) ++
      Seq((10L, "pair"), (11L, "pair"), (20L, "solo")))
      .toDF("doc_id", "text")
    val m = Dedup.groupSizeHistogram(docs, "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // size 5 → bucket 3; size 2 → bucket 2; size 1 → bucket 1
    assert(m === Map(3L -> ((1L, 5L, 5L, 5L)), 2L -> ((1L, 2L, 2L, 2L)),
      1L -> ((1L, 1L, 1L, 1L))))
  }

  test("canonicalPerGroup: keeps the largest member, ties to the " +
      "smallest id, one row per component") {
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (8L, 8L), (9L, 8L))
      .toDF("id", "comp")
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (8L, 5L), (9L, 5L),
      (99L, 77L)).toDF("doc_id", "n_chars") // 99 is in no group
    val out = Dedup.canonicalPerGroup(docs, "doc_id", comps, "n_chars")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // group 1: sizes (10,30,30) → max 30, tie 2 vs 3 → keep 2
    assert(out === Map(1L -> ((3L, 30L, 2L)), 8L -> ((2L, 5L, 8L))))
  }

  test("minhash+LSH recovers the exact and near dup pairs, not the distinct doc") {
    val sh = corpus.select($"doc_id",
      TextFunctions.wordShingles($"text", 3).as("sh"))
    val sigs = Dedup.minhashSignatures(sh, "doc_id", "sh", 64)
    val pairs = Dedup.lshCandidates(
      Dedup.lshBands(sigs, "doc_id", "sig", bands = 16, rowsPerBand = 4),
      "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("Md5Hasher kernels recover the dup structure, and its longs are " +
      "non-negative 60-bit") {
    val sh = corpus.select($"doc_id",
      TextFunctions.wordShingles($"text", 3).as("sh"))
    val sigs = Dedup.minhashSignatures(sh, "doc_id", "sh", 64)
    // signatures of identical docs identical; bounded range
    val sm = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sm(1L) === sm(2L))
    assert(sm.values.flatten.forall(v => v >= 0 && v < (1L << 60)))
    val pairs = Dedup.lshCandidates(
      Dedup.lshBands(sigs, "doc_id", "sig", bands = 16, rowsPerBand = 4),
      "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // simhash path: exact dups at distance 0
    val fp = Dedup.simhashFingerprints(
      corpus.select($"doc_id", TextFunctions.tokens($"text").as("toks")),
      "doc_id", "toks")
    val pr = Dedup.simhashPairs(fp, "doc_id", "sh64", hammingMax = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pr((1L, 2L)) === 0)
  }

  test("minhash signature of identical shingle sets is identical; empty drops") {
    val sh = corpus.select($"doc_id",
      TextFunctions.wordShingles($"text", 3).as("sh"))
    val sigs = Dedup.minhashSignatures(sh, "doc_id", "sh", 32).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(!sigs.contains(5L)) // empty doc has no signature
  }

  test("ngramJaccardPairs: exact dup scores 1.0, near dup in (0,1)") {
    val sh = corpus.select($"doc_id",
      TextFunctions.wordShingles($"text", 3).as("sh"))
    val pairs = Dedup.ngramJaccardPairs(sh, "doc_id", "sh", threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 1.0)
  }

  test("prefixFilterJaccardPairs: equals uncapped brute force (the " +
      "lossless theorem), including on a hot-shingle family where the " +
      "capped inverted index WOULD lose pairs") {
    // 15 near-identical docs: 5 shared shingles (df = 15, HOT) + 2 unique
    // per doc => pairwise jaccard 5/9 >= 0.5 THROUGH the hot shingles only
    val fam = (1L to 15L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta eta u$i v$i"))
    val far = Seq((101L, "totally different words about engines and planners"))
    val docs = (fam ++ far).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.wordShingles(col("text"), 3).as("sh"))
    def brute(d: org.apache.spark.sql.DataFrame) = {
      val rows = d.select(col("doc_id"), col("sh")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      (for {
        (a, sa) <- rows; (b, sb) <- rows if a < b
        c = (sa & sb).size
        j = c.toDouble / (sa.size + sb.size - c) if j >= 0.5
      } yield (a, b, math.rint(j * 1e6) / 1e6)).toSet
    }
    val got = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "sh", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === brute(docs))
    assert(got.nonEmpty)
    // the capped route with a tiny cap drops hot-shingle evidence — the
    // exact join must NOT (that is its reason to exist)
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5,
      maxPosting = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.size < got.size)
  }

  test("prefixFilterJaccardPairs: threshold 1.0 (exact duplicates only) " +
      "uses a single-token prefix and still finds every exact pair") {
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),
      (3L, "one two three four five seven")).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.wordShingles(col("text"), 3).as("sh"))
    val got = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "sh", 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("prefixFilterContainmentPairs: equals uncapped brute force; finds " +
      "a snippet embedded in MANY hosts through hot shingles where the " +
      "capped route goes blind") {
    // one 5-token snippet fully embedded in 12 hosts: every snippet
    // shingle has df = 13 (hot); containment(snippet→host) = 1e6
    val snippet = "alpha beta gamma delta epsilon"
    val hosts = (1L to 12L).map(i =>
      (i, s"$snippet extra$i filler$i words$i here$i more$i tail$i"))
    val docs = (hosts :+ ((99L, snippet))).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.wordShingles(col("text"), 3).as("sh"))
    val got = Dedup.prefixFilterContainmentPairs(docs, "doc_id", "sh",
        600000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force truth in-process
    val rows = docs.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val brute = (for {
      (a, sa) <- rows; (b, sb) <- rows if a != b
      c = (sa & sb).size
      ppm = 1000000L * c / sa.size if ppm >= 600000L
    } yield (a, b, ppm)).toSet
    assert(got === brute)
    // the snippet is contained in every host (12 directional rows)
    assert(got.count(_._1 == 99L) === 12)
    // a capped route with a small cap cannot see hot-shingle evidence
    val capped = Dedup.containmentPairs(docs, "doc_id", "sh", 600000L,
      maxPosting = 2).collect()
    assert(capped.length < got.size)
  }

  test("containmentPairs: an embedded snippet scores 1e6 toward its host " +
      "while jaccard stays below threshold") {
    val host = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, "delta epsilon zeta eta"),  // 4-token snippet inside host
      (2L, host),
      (3L, "unrelated words entirely different content here")
    ).toDF("doc_id", "text")
      .select($"doc_id", TextFunctions.wordShingles($"text", 3).as("sh"))
    val cont = Dedup.containmentPairs(docs, "doc_id", "sh", 600000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // snippet→host: both of doc 1's two shingles appear in the host
    assert(cont((1L, 2L)) === 1000000L)
    // host→snippet direction fails the threshold (2 of 18 shingles)
    assert(!cont.contains((2L, 1L)))
    assert(!cont.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // the symmetric measure misses it: jaccard = 2/18 ≈ 0.11
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "sh", threshold = 0.5)
    assert(jac.count() === 0)
  }

  test("crossSourceMatrix: canonical cells, intra-source diagonal, " +
      "exact distinct doc counts") {
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val docs = Seq((1L, "crawlA"), (2L, "crawlB"), (3L, "crawlB"),
      (4L, "crawlA"), (5L, "crawlA")).toDF("doc_id", "source")
    val m = Dedup.crossSourceMatrix(pairs, "id_a", "id_b", docs,
        "doc_id", "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // A↔B twice (docs 1,2,3 — doc 1 shared), A↔A once (docs 4,5)
    assert(m(("crawlA", "crawlB")) === ((2L, 3L)))
    assert(m(("crawlA", "crawlA")) === ((1L, 2L)))
    assert(m.size === 2)
  }

  test("containmentPairs: posting cap drops hot-shingle-only evidence") {
    // shared shingle appears in > maxPosting docs → capped out; the pair
    // survives only via rarer shared shingles
    val docs = (1L to 12L).map(i => (i, "common one two three end" + i))
      .toDF("doc_id", "text")
      .select($"doc_id", TextFunctions.wordShingles($"text", 3).as("sh"))
    val cont = Dedup.containmentPairs(docs, "doc_id", "sh", 1L,
      maxPosting = 5)
    // every pairwise evidence shingle is shared by all 12 docs (> cap) —
    // nothing may be emitted
    assert(cont.count() === 0)
  }

  test("tfidfCosinePairs: identical docs hit 1.0; near dups score high; " +
      "disjoint docs never pair") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),       // exact dup of 1
      (3L, "alpha beta gamma epsilon"),     // 3 of 4 tokens shared
      (4L, "zeta eta theta iota"))          // disjoint
      .toDF("doc_id", "text")
      .select($"doc_id", TextFunctions.tokens($"text").as("toks"))
    val pairs = Dedup.tfidfCosinePairs(docs, "doc_id", "toks",
        threshold = 0.0, maxPosting = 100)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 1.0)          // integer weights: exactly 1
    // rare-token dominance: the unshared delta/epsilon carry most of the
    // weight, so 3-of-4 common tokens still scores LOW — that asymmetry
    // vs Jaccard is the point of the measure
    assert(pairs((1L, 3L)) > 0.0 && pairs((1L, 3L)) < 0.5)
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((3L, 4L)))
    assert(pairs.keys.forall { case (a, b) => a < b })
  }

  test("tfidfCosinePairs: stop-token cap drops hot-token-only pairs AND " +
      "their weight contribution") {
    // "the" is in every doc (hot); docs 1/2 also share the rare "needle"
    val docs = Seq(
      (1L, "the needle aaa"), (2L, "the needle bbb"),
      (3L, "the ccc ddd"), (4L, "the eee fff"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextFunctions.tokens($"text").as("toks"))
    val pairs = Dedup.tfidfCosinePairs(docs, "doc_id", "toks",
        threshold = 0.0, maxPosting = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // only the needle-sharing pair survives; its cosine is computed over
    // the pruned vocabulary (needle + the four unique tokens)
    assert(pairs.keySet === Set((1L, 2L)))
    assert(pairs((1L, 2L)) > 0.0 && pairs((1L, 2L)) < 1.0)
  }

  test("simhash: identical docs have distance 0, near dup small, distinct large") {
    val fp = corpus.select($"doc_id",
      Dedup.simhash(TextFunctions.tokens($"text")).as("f")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(2L)) === 0)
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) <= 12)
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(4L)) > 12)
  }

  test("labelNoiseReport: planted mislabel is flagged, clean class is " +
      "clean, strict majority decides") {
    // two tight clusters; vec 5 sits in cluster A but carries label 1
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.99f, 0.01f), 0),
      (3L, Seq(0.98f, 0.02f), 0), (5L, Seq(0.97f, 0.03f), 1),
      (11L, Seq(0.0f, 1.0f), 1), (12L, Seq(0.01f, 0.99f), 1),
      (13L, Seq(0.02f, 0.98f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelNoiseReport(emb, "vec_id", "embedding",
        "label", probes = emb, k = 3)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // label 0 probes (1,2,3): all 3 NNs are the other A members + vec 5 —
    // at least 2 of 3 share label 0 → clean
    assert(out(0) === ((3L, 3L, 0L)))
    // label 1 probes: 11,12,13 are clean; 5's NNs are all label 0 → noisy
    assert(out(1) === ((4L, 3L, 250000L)))
  }

  test("bruteForceTopK: nearest neighbor is the closest vector, self excluded") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      vecs.select($"vec_id".as("nid"), $"embedding".as("nv")), "nid", "nv",
      vecs.filter($"vec_id" === 0L)
        .select($"vec_id".as("qid"), $"embedding".as("qv")), "qid", "qv", k = 2)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L))
    assert(top(0).getAs[Double]("sim") > 0.99)
  }

  test("embedding dup pairs: threshold keeps only near-identical vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.999f, 0.01f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.exactDupPairs(vecs, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("multi-probe LSH top-k recovers the brute-force neighbors") {
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(d => (((i * 31 + d * 17) % 13).toFloat - 6f) / 6f))
    }.toDF("vec_id", "embedding")
    val corpus = vecs.select($"vec_id".as("nid"), $"embedding".as("nv"))
    val queries = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = hits(Similarity.bruteForceTopK(corpus, "nid", "nv", queries, "qid", "qv", 5))
    val multi = hits(Similarity.lshTopK(corpus, "nid", "nv", queries, "qid", "qv", 5, 6, 8))
    // the Hamming-1 probes reach every true neighbor on this corpus
    assert(multi === brute)
  }

  test("two-stage top-k: equals a single global window, never windows the " +
      "full scored set through one reducer per query") {
    val vecs = (0L until 300L).map { i =>
      (i, Array.tabulate(8)(d => (((i * 37 + d * 23) % 17).toFloat - 8f) / 8f))
    }.toDF("vec_id", "embedding")
    val corpus = vecs.select($"vec_id".as("nid"), $"embedding".as("nv"))
    val queries = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val two = Similarity.bruteForceTopK(corpus, "nid", "nv", queries, "qid", "qv", 4)
    // reference: the naive single-window global top-k
    val scored = corpus.withColumn("_cn", Similarity.norm($"nv"))
      .join(broadcast(queries.withColumn("_qn", Similarity.norm($"qv"))))
      .filter($"nid" =!= $"qid")
      .withColumn("sim", Similarity.cosinePrenormed($"nv", $"qv", $"_cn", $"_qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"sim".desc, $"nid".asc)
    val naive = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 4)
      .select($"qid".as("query_id"), $"rank", $"nid".as("neighbor_id"),
        round($"sim", 6).as("sim"))
    assert(two.collect().toSet === naive.collect().toSet)
    // plan shape: the window over the FULL scored set partitions by
    // (query, salt); only the bounded survivor set (≤ salts·k per query)
    // passes through a per-query window
    val winKeys = two.queryExecution.optimizedPlan.collect {
      case win: org.apache.spark.sql.catalyst.plans.logical.Window =>
        win.partitionSpec.length
    }
    assert(winKeys.sorted === Seq(1, 2))
  }

  test("embeddingDupPairs (LSH scale path): bucket equi-join plan — no " +
      "nested-loop/cartesian join — and agrees with the exact path on recall") {
    val vecs = (0L until 120L).map { i =>
      (i, Array.tabulate(8)(d => (((i * 31 + d * 17) % 13).toFloat - 6f) / 6f))
    }.toDF("vec_id", "embedding")
    val lsh = Similarity.embeddingDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.4, bits = 4, dim = 8)
    val phys = lsh.queryExecution.sparkPlan.toString
    assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"))
    val exact = Similarity.exactDupPairs(vecs, "vec_id", "embedding", 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val got = lsh.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    // every LSH pair is a true pair with the identical score (exact
    // re-scoring); recall < 1 is the documented trade
    got.foreach { case (k, sim) => assert(exact(k) === sim) }
    assert(got.nonEmpty)
  }

  test("quantizeInt8: round-trip error bounded by scale/2, zeros stay zero") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = vecs.select($"vec_id", $"embedding",
        Similarity.quantizeInt8($"embedding").as("qz"))
      .select($"vec_id", $"embedding", $"qz.scale".as("scale"),
        Similarity.dequantize($"qz.q", $"qz.scale").as("back"),
        $"qz.q".as("q"))
      .collect()
    val v1 = r.find(_.getLong(0) == 1L).get
    val scale = v1.getDouble(2)
    assert(scale === 1.0 / 127.0)
    v1.getSeq[Float](1).zip(v1.getSeq[Double](3)).foreach { case (x, b) =>
      assert(math.abs(x - b) <= scale / 2 + 1e-12)
    }
    val v2 = r.find(_.getLong(0) == 2L).get
    assert(v2.getDouble(2) === 0.0)
    assert(v2.getSeq[Int](4) === Seq(0, 0, 0, 0))
  }

  test("componentsFromPairs: chains collapse to the min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val comps = Dedup.componentsFromPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("componentsFromPairs: deep chain converges in O(log n) rounds") {
    // a 64-hop chain: min-label propagation needs ~64 rounds; the
    // large-star/small-star alternation must finish within 8
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.componentsFromPairs(chain, iters = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size === 65)
    assert(comps.values.forall(_ === 0L))
  }

  test("dropExactDuplicates keeps one canonical doc per content group") {
    val kept = Dedup.dropExactDuplicates(corpus, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 4L, 5L)) // 2 dropped (dup of 1)
  }

  test("substringDupReport: planted shared span is found, disjoint docs " +
      "score zero, short docs get 0/0") {
    val span = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"unique one lead-in $span tail text here"),
      (2L, s"other start words $span different ending tokens"),
      (3L, "completely disjoint content with no overlap at all whatsoever"),
      (4L, "tiny doc")) // < n tokens: zero windows
      .toDF("doc_id", "text")
    val r = Dedup.substringDupReport(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // the 6-token span yields two distinct shared 5-token windows
    assert(r(1L)._2 === 2L)
    assert(r(2L)._2 === 2L)
    assert(r(3L) === ((5L, 0L, 0.0))) // 9 tokens → 5 windows, none shared
    assert(r(4L) === ((0L, 0L, 0.0))) // window-less doc survives as zeros
    assert(r(1L)._3 === 2.0 / r(1L)._1)
  }

  test("stripSharedSpans removes exactly the cross-document span; " +
      "intra-doc repeats and unique text survive") {
    val span = "alpha beta gamma delta epsilon"   // exactly n = 5 tokens
    val docs = Seq(
      (1L, s"unique lead $span tail words"),
      (2L, s"$span other ending"),
      // repeats a 5-gram WITHIN itself only — repetition, not duplication
      (3L, "again and again and again and again and again and again"),
      (4L, "tiny")).toDF("doc_id", "text")
    val r = Dedup.stripSharedSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(r(1L) === (("unique lead tail words", 9L, 5L)))
    assert(r(2L) === (("other ending", 7L, 5L)))
    assert(r(3L)._3 === 0L) // intra-doc repeats stay
    assert(r(4L) === (("tiny", 1L, 0L))) // window-less doc unchanged
  }

  test("truncatedRerankTopK: full dims + full shortlist equals brute " +
      "force; truncation keeps high recall") {
    val corpus = (0L until 30L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 3 + d * 7) % 13 - 6).toFloat))
    }.toDF("nid", "nv")
    val queries = corpus.filter($"nid" < 3)
      .select($"nid".as("qid"), $"nv".as("qv"))
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"neighbor_id")
        .as[(Long, Int, Long)].collect().toSet
    val brute = rs(Similarity.bruteForceTopK(corpus, "nid", "nv",
      queries, "qid", "qv", k = 5))
    val full = rs(Similarity.truncatedRerankTopK(corpus, "nid", "nv",
      queries, "qid", "qv", dims = 8, k = 5, shortlist = 30, salts = 1))
    assert(full === brute)
    val coarse = rs(Similarity.truncatedRerankTopK(corpus, "nid", "nv",
      queries, "qid", "qv", dims = 4, k = 5, shortlist = 12, salts = 1))
      .map(r => (r._1, r._3))
    val recall = (coarse & brute.map(r => (r._1, r._3))).size.toDouble /
      brute.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("rpComponents: deterministic, correct scale, ~1/3 density, and " +
      "randomProject matches a hand-folded projection") {
    val m = Similarity.rpComponents(16, 64)
    assert(m === Similarity.rpComponents(16, 64))   // pure function
    val s = math.sqrt(3.0 / 16)
    val flat = m.flatten
    assert(flat.forall(x => x == 0.0 || x == s || x == -s))
    val density = flat.count(_ != 0.0).toDouble / flat.size
    assert(density > 0.2 && density < 0.5, s"density $density")  // E=1/3
    // projection = sequential left fold, bit-identical to the hand fold
    val vec = Array.tabulate(64)(d => ((d * 37) % 19 - 9).toFloat)
    val expect = m.map(row =>
      (0 until 64).foldLeft(0.0)((acc, i) => acc + vec(i).toDouble * row(i)))
    val got = Seq((1L, vec)).toDF("id", "v")
      .select(Similarity.randomProject($"v", 16, 64).as("p"))
      .as[Seq[Double]].collect().head
    assert(got === expect)
  }

  test("rpRerankTopK: full shortlist equals brute force; 16-of-64-dim " +
      "sketch keeps high recall") {
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(64)(d => ((i * 3 + d * 7) % 13 - 6).toFloat))
    }.toDF("nid", "nv")
    val queries = corpus.filter($"nid" < 3)
      .select($"nid".as("qid"), $"nv".as("qv"))
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"neighbor_id")
        .as[(Long, Int, Long)].collect().toSet
    val brute = rs(Similarity.bruteForceTopK(corpus, "nid", "nv",
      queries, "qid", "qv", k = 5))
    val full = rs(Similarity.rpRerankTopK(corpus, "nid", "nv",
      queries, "qid", "qv", outDims = 16, dim = 64, k = 5,
      shortlist = 40, salts = 1))
    assert(full === brute)                // shortlist never decides order
    val coarse = rs(Similarity.rpRerankTopK(corpus, "nid", "nv",
      queries, "qid", "qv", outDims = 16, dim = 64, k = 5,
      shortlist = 15, salts = 1)).map(r => (r._1, r._3))
    val recall = (coarse & brute.map(r => (r._1, r._3))).size.toDouble /
      brute.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("substring report and span stripping plan as equi-joins on the " +
      "window key — no nested-loop join, no per-corpus window sort") {
    val docs = (0L until 30L).map(i =>
      (i, s"shared prefix words here plus token$i tail piece end"))
      .toDF("doc_id", "text")
    for (df <- Seq(
        Dedup.substringDupReport(docs, "doc_id", "text", n = 5),
        Dedup.stripSharedSpans(docs, "doc_id", "text", n = 5))) {
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct"))
      assert(!plan.contains("BroadcastNestedLoopJoin"))
      assert(!plan.contains("Window")) // no windowed count over the corpus
    }
  }

  test("semanticDupReport: lower-id near-dup in the same cell drops a doc; " +
      "cells bound the pair work") {
    // two tight clusters around orthogonal axes + one far-out singleton;
    // ids interleaved so keep/drop order is exercised across cells
    def v(axis: Int, eps: Double): Seq[Float] =
      (0 until 8).map(d => (if (d == axis) 1.0 else 0.0) + eps * (d + 1))
        .map(_.toFloat)
    val emb = Seq(
      (0L, v(0, 0.0)), (1L, v(1, 0.0)),          // anchor-mode cells
      (2L, v(0, 0.001)), (3L, v(1, 0.001)),      // near dups of 0 / 1
      (4L, v(0, 0.002)),                          // near dup of 0 and 2
      (5L, (0 until 8).map(d => (d * 7 + 1).toFloat))) // far from both
      .toDF("vec_id", "embedding")
    val r = Similarity.semanticDupReport(emb, "vec_id", "embedding",
      numCells = 2, threshold = 0.99, iters = 0)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getBoolean(2)))).toMap
    assert(r.size === 6)
    assert(r(0L)._2 && r(1L)._2)              // cluster minima kept
    assert(!r(2L)._2 && !r(3L)._2 && !r(4L)._2) // near dups dropped
    assert(r(5L)._2)                          // singleton kept in its cell
    // every dropped doc has a kept-or-dropped LOWER id in the same cell
    // (the order rule), and cells came from the anchor seeds {0, 1}
    assert(Set(r(0L)._1, r(1L)._1) === Set(0L, 1L))
    r.filter(!_._2._2).foreach { case (id, (cell, _)) =>
      assert(r.exists { case (o, (c2, _)) => o < id && c2 == cell })
    }
  }

  test("clusterProfile: population, cohesion, and label purity per cell") {
    def v(axis: Int, eps: Double): Seq[Float] =
      (0 until 8).map(d => (if (d == axis) 1.0 else 0.0) + eps * (d + 1))
        .map(_.toFloat)
    // two tight clusters with distinct dominant labels; one mislabel in
    // cluster 0 exercises the purity < 1 path
    val emb = Seq(
      (0L, v(0, 0.0), 10), (2L, v(0, 0.001), 10), (4L, v(0, 0.002), 99),
      (1L, v(1, 0.0), 20), (3L, v(1, 0.001), 20), (5L, v(1, 0.002), 20))
      .toDF("vec_id", "embedding", "label")
    val p = Similarity.clusterProfile(emb, "vec_id", "embedding", "label",
      numCells = 2, iters = 0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getInt(3), r.getDouble(4)))).toMap
    assert(p.keySet === Set(0L, 1L))          // anchor seeds are ids 0, 1
    assert(p(0L)._1 === 3L && p(1L)._1 === 3L)
    assert(p(0L)._3 === 10 && p(0L)._4 > 0.6 && p(0L)._4 < 0.7) // 2 of 3
    assert(p(1L)._3 === 20 && p(1L)._4 === 1.0)
    assert(p(0L)._2 > 0.99 && p(1L)._2 > 0.99) // tight clusters cohere
    // trained mode refines but keeps the partition invariant
    val trained = Similarity.clusterProfile(emb, "vec_id", "embedding",
      "label", numCells = 2, iters = 2).collect()
    assert(trained.map(_.getLong(1)).sum === 6L)
  }

  test("semanticDupReport: trained cells (iters > 0) keep the invariant " +
      "keep-count + drop-count = corpus, and dropping is consistent with " +
      "exact in-cell cosine") {
    val emb = (0L until 40L).map { i =>
      val axis = (i % 4).toInt
      (i, (0 until 8).map(d =>
        (if (d == axis) 1.0 else 0.0) + 0.0005 * ((i / 4) * (d + 1))).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val r = Similarity.semanticDupReport(emb, "vec_id", "embedding",
      numCells = 4, threshold = 0.999, iters = 2)
    assert(r.count() === 40L)
    val byCell = r.collect().groupBy(_.getLong(1))
    // within each cell the lowest id must be kept (nothing below it)
    byCell.values.foreach { rows =>
      val minId = rows.map(_.getLong(0)).min
      assert(rows.find(_.getLong(0) == minId).get.getBoolean(2))
    }
    // the pair stage is an equi-join on the cell id — never a cross join
    val plan = r.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("semanticDupReport: a mega-cell over maxCell is excluded from " +
      "pairing (members keep=true, quadratic work bounded)") {
    // one cell packed with 30 identical vectors (all mutual near-dups) +
    // a small cell with one genuine near-dup pair
    def v(axis: Int, eps: Double): Seq[Float] =
      (0 until 8).map(d => (if (d == axis) 1.0 else 0.0) + eps * (d + 1))
        .map(_.toFloat)
    val mega = (2L until 32L).map(i => (i, v(0, 0.0)))
    val emb = (Seq((0L, v(0, 0.0)), (1L, v(1, 0.0)), (32L, v(1, 0.001)))
      ++ mega).toDF("vec_id", "embedding")
    val capped = Similarity.semanticDupReport(emb, "vec_id", "embedding",
      numCells = 2, threshold = 0.99, iters = 0, maxCell = 10)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getBoolean(2)))).toMap
    assert(capped.size === 33)
    // cell 0 holds 31 identical vectors > cap 10 → uncompared, all kept
    (Seq(0L) ++ (2L until 32L)).foreach { id =>
      assert(capped(id)._2, s"over-cap cell member $id must be keep=true")
    }
    // the under-cap cell still deduplicates normally
    assert(capped(1L)._2 && !capped(32L)._2)
    // same data without the cap: the mega-cell members all drop except
    // the minimum id — the cap is the ONLY thing that changed semantics
    val uncapped = Similarity.semanticDupReport(emb, "vec_id", "embedding",
      numCells = 2, threshold = 0.99, iters = 0)
      .collect().map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(uncapped(0L) && (2L until 32L).forall(!uncapped(_)))
  }

  test("recallAtK: identical results score 1.0, disjoint 0.0, partial " +
      "overlap counts hits per query") {
    def frame(rows: Seq[(Long, Int, Long)]) =
      rows.toDF("query_id", "rank", "neighbor_id")
    val exact = frame(Seq((1L, 1, 10L), (1L, 2, 11L), (2L, 1, 20L), (2L, 2, 21L)))
    val same = Similarity.recallAtK(exact, exact).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(same === Map(1L -> 1.0, 2L -> 1.0))
    val approx = frame(Seq((1L, 1, 10L), (1L, 2, 99L), (2L, 1, 98L), (2L, 2, 97L)))
    val r = Similarity.recallAtK(approx, exact).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) === ((2L, 1L, 0.5)))   // hit 10, missed 11
    assert(r(2L) === ((2L, 0L, 0.0)))   // both missed
    // duplicate (query, neighbor) rows in a caller-supplied approx frame
    // must not double-count hits (recall stays ≤ 1.0)
    val dup = frame(Seq((1L, 1, 10L), (1L, 1, 10L), (1L, 2, 11L)))
    val d = Similarity.recallAtK(dup, exact).collect()
      .map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(d(1L) === 1.0)
  }

  test("winnowing: shared runs of >= window+n-1 tokens share a fingerprint; " +
      "short docs degrade gracefully; selection is a hash-set subset") {
    val shared = "alpha beta gamma delta epsilon zeta eta" // 7 ≥ 4+3-1 tokens
    val docs = Seq(
      (1L, s"unique one two three $shared closing words here"),
      (2L, s"$shared totally different tail of tokens now"),
      (3L, "tiny doc"),                  // < n tokens → no grams
      (4L, "exactly three tokens"),      // one gram, < window
      (5L, "")).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text",
      n = 3, window = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty) // the winnowing guarantee
    assert(fps(3L).isEmpty && fps(5L).isEmpty)
    assert(fps(4L).size === 1)
    // every fingerprint is a real n-gram hash (selection never invents)
    val allHashes = docs
      .select($"doc_id", explode(TextFunctions.wordNgrams($"text", 3)).as("g"))
      .select($"doc_id", Dedup.Md5Hasher($"g").as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    for (id <- Seq(1L, 2L, 4L))
      assert(fps(id).subsetOf(allHashes(id)))
    // storage actually shrinks vs the full shingle set on the long docs
    assert(fps(1L).size < allHashes(1L).size)
    assert(fps.values.flatten.forall(_ >= 0)) // 60-bit non-negative
  }

  test("simhashFingerprints (explode form) equals the per-row Column form") {
    val perRow = corpus.filter($"doc_id" <= 4)
      .select($"doc_id", Dedup.simhash(TextFunctions.tokens($"text")).as("sh64"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exploded = Dedup.simhashFingerprints(
      corpus.select($"doc_id", TextFunctions.tokens($"text").as("toks")),
      "doc_id", "toks")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    perRow.foreach { case (id, fp) => assert(exploded(id) === fp) }
    assert(!exploded.contains(5L)) // empty doc: no tokens, no fingerprint
  }

  test("ingestDedupReport: exact and near screens, short-doc edge, " +
      "unique docs keep") {
    val old = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "hi there"),                    // < 3 tokens: fingerprint only
      (3L, "some shared template sentence here")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps"),  // identical → exact + near
      (11L, "hi there"),                   // identical short → exact, NO bands
      (12L, "totally novel content nothing matches"),
      (13L, "hi")).toDF("doc_id", "text")
    val r = Dedup.ingestDedupReport(old, fresh, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        ((x.getBoolean(1), x.getBoolean(2), x.getBoolean(3)))).toMap
    assert(r(10L) === ((true, true, false)))  // identical sig ⇒ every band hits
    assert(r(11L) === ((true, false, false)))
    assert(r(12L) === ((false, false, true)))
    assert(r(13L) === ((false, false, true)))
    assert(r.size === 4)                      // one row per NEW doc only
  }

  test("ingestDedupReport: a verbatim copy hits both screens; keep is " +
      "the negation of near_cand on a non-copy") {
    val old = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val fresh = Seq((2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val r = Dedup.ingestDedupReport(old, fresh, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        ((x.getBoolean(1), x.getBoolean(2), x.getBoolean(3)))).toMap
    assert(r(2L) === ((true, true, false)))
    assert(r(3L)._1 === false)
    assert(r(3L)._3 === !r(3L)._2)
  }

  test("nearestCentroidClassify: separable classes classify correctly " +
      "with full margin; report covers exactly the held-out bucket") {
    val vecs = (1L to 60L).map { id =>
      val lbl = (id % 2).toInt
      val v = if (lbl == 0) Seq(1f, 0f, 0f, 0f) else Seq(0f, 1f, 0f, 0f)
      (id, v, lbl)
    }.toDF("vec_id", "embedding", "label")
    val r = Similarity.nearestCentroidClassify(vecs, "vec_id", "embedding",
      "label", trainPct = 80).collect()
    val heldOut = vecs
      .filter(Sampling.stableBucket(col("vec_id")) >= 80)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(r.map(_.getLong(0)).toSet === heldOut)
    assert(heldOut.nonEmpty)
    r.foreach { row =>
      assert(row.getBoolean(5), s"misclassified ${row.getLong(0)}")
      assert(row.getInt(2) === row.getInt(1))
      assert(row.getDouble(3) === 1.0)   // cos to own centroid
      assert(row.getDouble(4) === 1.0)   // margin = 1 - 0
    }
  }
}
