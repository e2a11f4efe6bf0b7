package graft

import org.apache.spark.sql.functions._

/** One-off scale probes for operators whose realistic operating point is
  * NOT the oracle-gated query configuration — selection at k in the
  * hundreds (the gated queries run k=3–5 for SQL-unrollable oracles) and
  * BPE serving with a 1000+-merge table (the gated query replays 6
  * merges in DuckDB). `Bench` times the gated configurations; this main
  * times the operating-point ones for SCALE.md rows.
  *
  * Usage: ScaleProbe <sfDir> <op> [args...]; prints one JSON line.
  *   maxcover_exact <k> | maxcover_celf <k> | maxcover_stochastic <k> <pct>
  *   maxcover_celf_bucketed | maxcover_exact_bucketed <k> [buckets] —
  *     id-bucketed posting table A/B
  *   maxcover_celf_zipf | maxcover_exact_zipf <k> [nmax] [alpha] —
  *     heavy-tailed gain fixture (CELF's advertised regime)
  *   alpha_ab [buckets] — krippendorff alpha off plain vs
  *     orderkey-bucketed lineitem (self-join exchange A/B)
  *   kcenter <k> | kcenter_batched <k> <batch> | bpe_trie <merges>
  *   bpe_corpus <merges> — corpus-grain encode (distinct-word →
  *     encode-once → join-back) vs the naive per-row encode
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val op = args(1)
    val spark = Sessions.local()

    def docsShingled = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))
    def emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

    def celfStatsJson(): String =
      Option(functions.Sampling.lastCelfStats.get()).map(s =>
        s""","celf_refills":${s.refills},"celf_probe_calls":${s.probeCalls}""" +
          s""","celf_probed_ids":${s.probedIds}""").getOrElse("")

    val t0 = System.nanoTime()
    var extra = ""
    val rows: Long = op match {
      case "maxcover_exact" =>
        functions.Sampling.maxCoverSelect(docsShingled, "doc_id", "sh",
          args(2).toInt).count()
      case "maxcover_celf" =>
        val n = functions.Sampling.maxCoverSelectCelf(docsShingled,
          "doc_id", "sh", args(2).toInt).count()
        extra = celfStatsJson()
        n
      case "maxcover_celf_bucketed" =>
        // the bucketed-storage A/B (round-13 verdict #1): posting written
        // ONCE as a hive table bucketed by _id, selection run off the
        // table read — probes bucket-prune at the scan and the refill's
        // groupBy(_id) rides the scan partitioning with no exchange.
        // Build and select are timed separately (the build is the
        // pay-once ingest cost every bucketed design amortizes).
        val k = args(2).toInt
        val buckets = if (args.length > 3) args(3).toInt else 32
        val tbl = "maxcover_posting_bkt"
        val tb = System.nanoTime()
        functions.Sampling.writePostingBucketed(docsShingled, "doc_id",
          "sh", tbl, buckets)
        val buildSecs = (System.nanoTime() - tb) / 1e9
        val posting = spark.table(tbl)
        // plan evidence, REAL probe shape (reEval's filter + gains agg):
        // bucket-pruned scan, no exchange. A bare filter would lose the
        // bucketed scan to the auto-bucketed-scan rule — the aggregate
        // is load-bearing, exactly as in gains()
        val probe = posting.filter(col("_id").isin(1L, 42L))
          .groupBy(col("_id")).agg(count(lit(1)).as("_gain"))
        probe.count()
        val probePruned = probe.queryExecution.executedPlan.toString
          .contains("SelectedBucketsCount")
        // plan evidence, refill shape: the gains aggregate needs no
        // exchange over the scan-reported HashPartitioning(_id)
        val refillShaped = posting.groupBy(col("_id"))
          .agg(count(lit(1)))
        refillShaped.count()
        val refillFree = sources.Bucketing.isShuffleFree(refillShaped)
        val ts = System.nanoTime()
        val n = functions.Sampling.maxCoverSelectCelfOnPosting(
          posting, "doc_id", k).count()
        val selSecs = (System.nanoTime() - ts) / 1e9
        extra = s""","build_secs":${math.round(buildSecs * 10) / 10.0}""" +
          s""","select_secs":${math.round(selSecs * 10) / 10.0}""" +
          s""","probe_bucket_pruned":$probePruned""" +
          s""","refill_shuffle_free":$refillFree""" + celfStatsJson()
        n
      case "maxcover_exact_bucketed" =>
        // the exact-greedy twin of the bucketed A/B: k round aggregates
        // off the id-bucketed table, each riding the scan-reported
        // HashPartitioning(_id) with no exchange (vs the cached path's
        // per-round posting shuffle)
        val k = args(2).toInt
        val buckets = if (args.length > 3) args(3).toInt else 32
        val tbl = "maxcover_posting_bkt"
        val tb = System.nanoTime()
        functions.Sampling.writePostingBucketed(docsShingled, "doc_id",
          "sh", tbl, buckets)
        val buildSecs = (System.nanoTime() - tb) / 1e9
        val posting = spark.table(tbl)
        val refillShaped = posting.groupBy(col("_id"))
          .agg(count(lit(1)))
        refillShaped.count()
        val refillFree = sources.Bucketing.isShuffleFree(refillShaped)
        val ts = System.nanoTime()
        val n = functions.Sampling.maxCoverSelectOnPosting(
          posting, "doc_id", k).count()
        val selSecs = (System.nanoTime() - ts) / 1e9
        extra = s""","build_secs":${math.round(buildSecs * 10) / 10.0}""" +
          s""","select_secs":${math.round(selSecs * 10) / 10.0}""" +
          s""","refill_shuffle_free":$refillFree"""
        n
      case "maxcover_celf_zipf" | "maxcover_exact_zipf" |
           "maxcover_celf_zipf_bucketed" | "maxcover_exact_zipf_bucketed" =>
        // heavy-tailed gain fixture (round-13 verdict #4): doc shingle
        // counts follow a power law n = nmax / rank^alpha over a shared
        // shingle universe, the regime CELF's lazy path is built for —
        // the synthetic corpus's near-uniform doc sizes tie every gain
        // and degenerate CELF to exact greedy (SCALE.md §round-13)
        val k = args(2).toInt
        val nmax = if (args.length > 3) args(3).toInt else 20000
        val alpha = if (args.length > 4) args(4).toDouble else 0.7
        // universe size controls INTER-DOCUMENT OVERLAP — the variable
        // that turned out to govern CELF (SCALE.md §round-14): with
        // doc-distinct draws, E[|A∩B|] ≈ n_a·n_b/universe, so 1M gives
        // the head docs hundreds of shared shingles (gains move with
        // picks) while 100M makes docs near-disjoint (gains stable —
        // CELF's regime). The first fixture cut hashed `doc_id + x`,
        // whose ADDITIVE argument made rank-adjacent docs share almost
        // their entire shingle sets (doc d and d+1 collide on all but
        // one position) — a pathological-overlap corpus that measured
        // CELF at 0.62×; kept reachable via universe=0 for the record,
        // the multiplicative stride is the honest fixture
        val universe = if (args.length > 5) args(5).toLong else 1000000L
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
        val zdocs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"))
          .withColumn("_rank", row_number().over(w))
          .withColumn("_n", greatest(lit(1),
            floor(lit(nmax) / pow(col("_rank").cast("double"), lit(alpha))))
            .cast("int"))
          .withColumn("sh", expr(
            if (universe == 0L)
              // the legacy additive-argument fixture (pathological
              // overlap), kept for reproducibility of the first cut
              "transform(sequence(1, _n), " +
                "x -> pmod(xxhash64(doc_id + x), 1000000L))"
            else
              "transform(sequence(1, _n), " +
                s"x -> pmod(xxhash64(doc_id * 1000003L + x), ${universe}L))"))
          .select(col("doc_id"), col("sh"))
          .localCheckpoint(true)
        extra = s""","fixture":"zipf","nmax":$nmax,"alpha":$alpha""" +
          s""","universe":$universe"""
        val n =
          if (op == "maxcover_celf_zipf") {
            val r = functions.Sampling.maxCoverSelectCelf(zdocs, "doc_id",
              "sh", k).count()
            extra += celfStatsJson()
            r
          } else if (op == "maxcover_exact_zipf") {
            functions.Sampling.maxCoverSelect(zdocs, "doc_id", "sh", k)
              .count()
          } else {
            // the missing matrix cell (SCALE.md §round-14): the lazy
            // path's probe volume only converts to wall-clock when the
            // storage prunes — bucketed posting under the zipf fixture
            val tbl = "maxcover_posting_zipf_bkt"
            val tb = System.nanoTime()
            functions.Sampling.writePostingBucketed(zdocs, "doc_id", "sh",
              tbl, 32)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            val posting = spark.table(tbl)
            val ts = System.nanoTime()
            val r =
              if (op == "maxcover_celf_zipf_bucketed") {
                val x = functions.Sampling.maxCoverSelectCelfOnPosting(
                  posting, "doc_id", k).count()
                extra += celfStatsJson()
                x
              } else functions.Sampling.maxCoverSelectOnPosting(
                posting, "doc_id", k).count()
            val selSecs = (System.nanoTime() - ts) / 1e9
            extra += s""","build_secs":${math.round(buildSecs * 10) / 10.0}""" +
              s""","select_secs":${math.round(selSecs * 10) / 10.0}"""
            r
          }
        n
      case "alpha_ab" =>
        // orderkey-bucketed lineitem A/B for the krippendorff-alpha
        // comparison self-join (round-13 verdict #1, second half): the
        // sf100 audit showed the orderkey shuffle IS the wall (21.9×);
        // this measures the same statistic off plain parquet vs an
        // orderkey-bucketed table and counts the shuffle exchanges in
        // each executed plan
        val buckets = if (args.length > 2) args(2).toInt else 32
        val liCols = Seq("l_orderkey", "l_linenumber", "l_quantity",
          "l_partkey")
        val pt = spark.read.parquet(s"$dir/part.parquet")
          .select(col("p_partkey"), col("p_brand"))
        def alphaOf(li: org.apache.spark.sql.DataFrame) =
          functions.Preference.krippendorffAlpha(
            queries.CorpusQueries.promptComparisonsFrom(li, pt).select(col("w"),
              col("l")), "w", "l")
        def exchanges(df: org.apache.spark.sql.DataFrame): Int =
          "Exchange hashpartitioning".r
            .findAllIn(df.queryExecution.executedPlan.toString).length
        val liPlain = spark.read.parquet(s"$dir/lineitem.parquet")
          .select(liCols.map(col): _*)
        val tp = System.nanoTime()
        val plainFrame = alphaOf(liPlain)
        val plainRows = plainFrame.count()
        val plainSecs = (System.nanoTime() - tp) / 1e9
        val tbl = "lineitem_okey_bkt"
        val tb = System.nanoTime()
        sources.Bucketing.writeBucketed(liPlain, tbl, "l_orderkey", buckets)
        val buildSecs = (System.nanoTime() - tb) / 1e9
        val tk = System.nanoTime()
        val bktFrame = alphaOf(spark.table(tbl))
        val bktRows = bktFrame.count()
        val bktSecs = (System.nanoTime() - tk) / 1e9
        require(plainRows == bktRows,
          s"alpha_ab row mismatch: $plainRows vs $bktRows")
        extra = s""","plain_secs":${math.round(plainSecs * 10) / 10.0}""" +
          s""","bucketed_secs":${math.round(bktSecs * 10) / 10.0}""" +
          s""","build_secs":${math.round(buildSecs * 10) / 10.0}""" +
          s""","plain_exchanges":${exchanges(plainFrame)}""" +
          s""","bucketed_exchanges":${exchanges(bktFrame)}"""
        bktRows
      case "maxcover_stochastic" =>
        functions.Sampling.maxCoverSelectStochastic(docsShingled, "doc_id",
          "sh", args(2).toInt, args(3).toInt).count()
      case "kcenter" =>
        functions.Similarity.kCenterSelect(emb, "vec_id", "embedding",
          args(2).toInt).count()
      case "kcenter_batched" =>
        functions.Similarity.kCenterSelect(emb, "vec_id", "embedding",
          args(2).toInt, batch = args(3).toInt).count()
      case "bpe_trie" =>
        // serving shape: vocabulary aggregated once, trained driver-local
        // at realistic merge count, then ONE encodeWords pass over the
        // whole vocabulary (the fold path would be args(2) chained
        // expression nodes — unbuildable at this size)
        val words = functions.Bpe.wordCounts(
          spark.read.parquet(s"$dir/documents.parquet"), col("text"))
          .localCheckpoint(true)
        val merges = functions.Bpe.trainLocal(words, "word", "freq",
          numMerges = args(2).toInt, minCount = 1L)
        extra = s""","merges":${merges.size}"""
        val enc = functions.Bpe.encodeWords(words, "word", merges)
          .agg(count(lit(1)), sum(size(col("sym")))).collect()
        enc(0).getLong(0)
      case "bpe_corpus" =>
        // corpus-grain tokenization at the serving operating point:
        // train at realistic merge count, persist the merge artifact,
        // read it back, encodeCorpus (distinct-word encode + join-back).
        // The A/B inside: naive per-occurrence encode of the same corpus
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val words = functions.Bpe.wordCounts(docs, col("text"))
          .localCheckpoint(true)
        val trained = functions.Bpe.trainLocal(words, "word", "freq",
          numMerges = args(2).toInt, minCount = 1L)
        val artifact = s"target/scale/bpe_merges_probe"
        functions.Bpe.writeMerges(spark, trained, artifact)
        val merges = functions.Bpe.readMerges(spark, artifact)
        val tc = System.nanoTime()
        val n = functions.Bpe.encodeCorpus(docs, "doc_id", "text", merges)
          .agg(count(lit(1)), sum(size(col("tokens")))).collect()(0)
          .getLong(0)
        val corpusSecs = (System.nanoTime() - tc) / 1e9
        val tn = System.nanoTime()
        val occ = docs.select(col("doc_id"),
          posexplode(functions.TextFunctions.tokens(col("text")))
            .as(Seq("_p", "word")))
        functions.Bpe.encodeWords(occ, "word", merges, out = "_s")
          .agg(count(lit(1)), sum(size(col("_s")))).collect()
        val naiveSecs = (System.nanoTime() - tn) / 1e9
        extra = s""","merges":${merges.size}""" +
          s""","corpus_secs":${math.round(corpusSecs * 10) / 10.0}""" +
          s""","per_occurrence_secs":${math.round(naiveSecs * 10) / 10.0}"""
        n
      case other => sys.error(s"unknown op $other")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    println(s"""{"probe":"$op","dir":"$dir","args":"${args.drop(2).mkString(",")}","rows":$rows$extra,"secs":${math.round(secs * 10) / 10.0}}""")
    spark.stop()
  }
}
