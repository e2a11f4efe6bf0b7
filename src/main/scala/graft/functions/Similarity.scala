package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - brute-force top-k: broadcast the (small) query set against the
  *     corpus — one scan, no shuffle of the corpus, exact. Right answer
  *     when |queries| is small, corpus is huge (the 100 TB shape).
  *   - LSH-bucketed (random hyperplane signs): corpus and queries are
  *     bucketed by a B-bit signature; only same-bucket pairs are scored.
  *     Approximate, but candidate generation is an equi-join that scales
  *     like dedup LSH. Multi-probe = also search buckets at Hamming
  *     distance 1 from the query's signature.
  *
  * Dot products use `zip_with` + `aggregate` (codegen'd, no UDF). Vectors
  * are cast to double before arithmetic so results are stable and
  * oracle-comparable.
  */
object Similarity {

  /** Double dot product via the native codegen'd expression (registered by
    * graft.expressions.GraftExtensions — sessions must enable it via
    * spark.sql.extensions). Bit-identical to `dotHof`. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Built-ins-only fallback (interpreted higher-order functions) — kept for
    * sessions without the extension and as the differential check for the
    * native expression. ~50× slower on all-pairs workloads. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine when both sides carry a precomputed `norm` column — the pairwise
    * work drops from three array folds to one. The arithmetic (sequential
    * left-fold dot, then divide by the norm product) is IDENTICAL to
    * `cosine`, so results stay bit-for-bit comparable with the SQL oracle. */
  def cosinePrenormed(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Scale-safe exact top-k per query over a scored candidate frame.
    *
    * A bare `row_number().over(partitionBy(queryId))` funnels EVERY scored
    * candidate of a query through one reducer — at corpus scale that is one
    * task sorting billions of rows. Two stages instead: candidates are
    * salted by a hash of the candidate id into `salts` sub-groups, stage 1
    * takes top-k per (query, salt) in parallel, stage 2 takes top-k of the
    * ≤ salts·k survivors per query. Identical output to the single window:
    * any row outside its salt-group's top-k ranks below k globally too
    * (the total order sim DESC, id ASC is shared by both stages).
    *
    * `salts ≤ 1` skips stage 1 (one window shuffle instead of two) — for
    * callers with a KNOWN reducer-sized candidates-per-query upper bound
    * (e.g. a probed IVF over a corpus whose cell sizes are bounded). The
    * default stays scale-safe. */
  private[functions] def topKPerQuery(scored: DataFrame, queryId: String,
                                      corpusId: String, k: Int,
                                      salts: Int = 64): DataFrame = {
    val w2 = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col(corpusId).asc)
    val pre =
      if (salts <= 1) scored
      else {
        val w1 = Window.partitionBy(col(queryId), col("_salt"))
          .orderBy(col("sim").desc, col(corpusId).asc)
        scored
          .withColumn("_salt", pmod(xxhash64(col(corpusId)), lit(salts)))
          .withColumn("_r1", row_number().over(w1))
          .filter(col("_r1") <= k)
          .drop("_r1", "_salt")
      }
    pre
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col(queryId).alias("query_id"), col("rank"),
        col(corpusId).alias("neighbor_id"), round(col("sim"), 6).alias("sim"))
  }

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` is expected to be small — it is broadcast, so the corpus is
    * scanned once with NO shuffle before the final top-k aggregation.
    * Output: (query_id, rank, neighbor_id, sim) — ties broken by id. */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int): DataFrame = {
    val c = corpus.withColumn("_cn", norm(col(corpusVec)))
    val q = queries.withColumn("_qn", norm(col(queryVec)))
    val scored = c.join(broadcast(q))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim", cosinePrenormed(col(corpusVec), col(queryVec),
        col("_cn"), col("_qn")))
    topKPerQuery(scored, queryId, corpusId, k)
  }

  /** MMR diversified re-rank (Carbonell & Goldstein SIGIR'98): greedily
    * pick k results maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the
    * standard answer to near-duplicate hits crowding a retrieval shortlist.
    *
    * `cands` is a per-query SHORTLIST (query_id, doc_id, rel, vector) —
    * top-n from any first-stage ranker, so per-query size is bounded by
    * construction and the whole computation is reducer-sized per query no
    * matter the corpus. Pairwise sims are computed ONCE (shortlist
    * self-join per query, ≤ n² bounded rows), then each greedy round is a
    * left join + max + one per-query argmax window over ≤ n rows.
    *
    * Determinism: rel and sims are the bit-identical left-fold cosines,
    * λ-arithmetic is plain IEEE on both engines, and every argmax carries
    * a doc-id tie-break — so the greedy trajectory (not just the set) is
    * engine-exact and the DuckDB oracle unrolls the same k rounds. */
  def mmrRerank(cands: DataFrame, queryId: String, docId: String,
                relCol: String, vecCol: String, k: Int,
                lam: Double): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lam >= 0.0 && lam <= 1.0, "lambda must be in [0, 1]")
    // materialize the shortlist and its pair sims ONCE: every greedy round
    // references both, and k lazily-stacked rounds would otherwise re-run
    // the first-stage ranker ~2^k times (the iterative-lineage rule from
    // PageRank/CC). Both frames are |queries|·n(²) rows — tiny by contract.
    val base = cands.select(col(queryId).as("query_id"),
      col(docId).as("doc_id"), col(relCol).cast("double").as("rel"),
      col(vecCol).as("_v"))
      .transform(Frames.truncate)
    val sims = base.as("a").join(base.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.query_id").as("query_id"), col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"), cosine(col("a._v"), col("b._v")).as("sim"))
      .transform(Frames.truncate)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    var selected = base.limit(0)
      .select(col("query_id"), lit(0).as("rank"), col("doc_id"),
        lit(0.0).as("score"))
    for (r <- 1 to k) {
      val selIds = selected.select(col("query_id"), col("doc_id"))
      val penalty = sims
        .join(selIds.withColumnRenamed("doc_id", "id_b"), Seq("query_id", "id_b"))
        .groupBy(col("query_id"), col("id_a").as("doc_id"))
        .agg(max(col("sim")).as("_pen"))
      val pick = base
        .join(selIds, Seq("query_id", "doc_id"), "left_anti")
        .join(penalty, Seq("query_id", "doc_id"), "left")
        .withColumn("score",
          lit(lam) * col("rel") - lit(1.0 - lam) * coalesce(col("_pen"), lit(0.0)))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("query_id"), lit(r).as("rank"), col("doc_id"), col("score"))
      // checkpoint the growing selected set too: round r's anti-join
      // replays the whole selected lineage, which is otherwise geometric
      // in k (each pick embeds every earlier pick's plan)
      selected = selected.unionByName(pick).transform(Frames.truncate)
    }
    selected
  }

  /** Deterministic ±1 hyperplane components for (plane, dimension) — pure
    * integer hashing, no RNG state, reproducible across runs/executors.
    * `table` selects an INDEPENDENT plane family (plane indices offset by
    * table·bits — the multi-table LSH lever): two tables partition the
    * space differently, so bucket-local structures built per table
    * overlap and compose (the NN-descent init uses this to keep its
    * candidate graph connected across any one table's bucket walls).
    * Public so the differential oracle can embed the SAME planes as SQL
    * literals and recompute buckets engine-independently. */
  def rhpPlaneComponents(bits: Int, dim: Int, table: Int = 0): Seq[Seq[Double]] =
    (0 until bits).map { p0 =>
      val p = p0 + table * bits
      (0 until dim).map { d =>
        val h = ((p.toLong * 1125899906842597L + d * 2654435761L) ^ 0x9E3779B97F4A7C15L)
        if (java.lang.Long.bitCount(h & 0xFFFFFFL) % 2 == 0) 1.0 else -1.0
      }
    }

  /** Random-hyperplane signature: B sign bits packed into a long. */
  def rhpSignature(vec: Column, bits: Int, dim: Int, table: Int = 0): Column = {
    val planes: Seq[Column] = rhpPlaneComponents(bits, dim, table).zipWithIndex.map {
      case (comps, p) =>
        val planeArr = array(comps.map(lit): _*)
        when(dot(vec, planeArr) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    planes.reduce((a, b) => a.bitwiseOR(b))
  }

  /** LSH-bucketed ANN, multi-probe: each query searches its own signature's
    * bucket and every bucket at Hamming distance 1 from it (bits+1 probes
    * per query) — the standard recall lever that costs query fan-out, not
    * corpus reshuffling. Recall < 1 by design — verify against
    * bruteForceTopK on samples. */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, bits: Int, dim: Int): DataFrame = {
    val c = corpus.withColumn("bucket", rhpSignature(col(corpusVec), bits, dim))
      .withColumn("_cn", norm(col(corpusVec)))
    val qSig = queries.withColumn("_sig", rhpSignature(col(queryVec), bits, dim))
      .withColumn("_qn", norm(col(queryVec)))
    val probes = array((col("_sig") +: (0 until bits).map(b =>
      col("_sig").bitwiseXOR(lit(1L << b)))): _*)
    val q = qSig.withColumn("bucket", explode(probes)).drop("_sig")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim", cosinePrenormed(col(corpusVec), col(queryVec),
        col("_cn"), col("_qn")))
    // no per-pair dedup needed: a candidate lives in exactly one bucket, so
    // each query meets it at most once across its probes
    topKPerQuery(scored, queryId, corpusId, k)
  }

  /** Margin-based bitext/parallel-pair mining (the retrieval criterion of
    * Artetxe & Schwenk, ACL'19 §3.2, with the absolute-margin variant):
    * for every query-side vector, score the corpus-side candidates that
    * share an RHP bucket (multi-probe, Hamming-1), keep the best match
    * whose lead over the SECOND-best clears `marginMu` µ — the margin is
    * what separates a genuine translation/paraphrase pair from a dense
    * neighborhood where the top hit is interchangeable with its runner-up.
    *
    * Unlike [[lshTopK]], BOTH sides are corpus-sized here, so the bucket
    * equi-join shuffles instead of broadcasting; candidate volume stays
    * bucket-bounded (never all-pairs) and the top-2 cut runs salted
    * map-side first (same funnel-avoidance as topKPerQuery). Queries with
    * fewer than two candidates are dropped — a margin needs a runner-up.
    *
    * `maxBucket` (OPT-IN — the default is uncapped, so existing callers
    * keep every mined pair; a cap silently subsampling recall must be a
    * visible per-call-site decision) caps the CORPUS side per bucket to
    * its `maxBucket` stable-hash-lowest members (the
    * [[Sampling.stableCappedSample]]
    * order, SQL-mirrorable) — without it, per-query candidates are
    * corpus/2^bits and the join degenerates quadratic as the corpus
    * outgrows the fixed bucket count (measured: 2.7 s at sf1.0 → 149 s
    * at sf10 uncapped, a 55× second-decade wall). With the cap, scoring
    * is ≤ (1+bits)·maxBucket dots per query — linear in the query side
    * at any corpus size. The cap is a deterministic spread subsample
    * (hash order, not data order), the same recall-for-boundedness trade
    * as [[Dedup.lshCandidates]]'s hot-bucket guard; size it to
    * corpus/2^bits when full coverage is required, or raise `bits` so
    * buckets stay under it — bitextRecallReport measures what it costs.
    * The µ-floor of the double margin is exact cross-engine: both engines
    * compute the identical sequential-fold doubles, and floor of the same
    * double cannot straddle. Ids share one namespace (as in [[lshTopK]]):
    * `corpusId === queryId` pairs are filtered as self-matches, so two
    * sides whose id values collide for different entities must be
    * remapped first. Output: (src_id, dst_id, sim, margin_mu). */
  def bitextMarginMine(corpus: DataFrame, corpusId: String, corpusVec: String,
                       queries: DataFrame, queryId: String, queryVec: String,
                       bits: Int, dim: Int, marginMu: Long,
                       salts: Int = 64,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    val bucketed = corpus
      .withColumn("bucket", rhpSignature(col(corpusVec), bits, dim))
    // uncapped runs silently inherit the quadratic join blow-up the cap
    // exists to prevent (measured: 2.7 s → 149 s on a degenerate
    // corpus) — surface it. The probe is one scan + partial agg of the
    // corpus, negligible next to the join it warns about, and runs ONLY
    // on the uncapped path so capped callers pay nothing.
    if (maxBucket == Int.MaxValue) {
      val biggest = bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("_n")).agg(max(col("_n"))).head() match {
          case r if r.isNullAt(0) => 0L // empty corpus
          case r                  => r.getLong(0)
        }
      if (biggest > 1024)
        System.err.println(
          s"[graft] bitextMarginMine: uncapped run with max bucket size " +
            s"$biggest (> 1024) — the bucket join is quadratic in bucket " +
            s"size; consider passing maxBucket to bound it")
    }
    // the cap window is a wide stage (exchange + per-bucket sort) — on
    // the uncapped default path it would keep every row, so skip it
    // entirely instead of paying a no-op shuffle
    val c = (if (maxBucket == Int.MaxValue) bucketed
      else {
        val cwin = Window.partitionBy(col("bucket"))
          .orderBy(Sampling.stableBucket(col(corpusId), 1 << 30),
            col(corpusId))
        bucketed.withColumn("_cr", row_number().over(cwin))
          .filter(col("_cr") <= maxBucket).drop("_cr")
      }).withColumn("_cn", norm(col(corpusVec)))
    val qSig = queries
      .withColumn("_sig", rhpSignature(col(queryVec), bits, dim))
      .withColumn("_qn", norm(col(queryVec)))
    val probes = array((col("_sig") +: (0 until bits).map(b =>
      col("_sig").bitwiseXOR(lit(1L << b)))): _*)
    val q = qSig.withColumn("bucket", explode(probes)).drop("_sig")
    // same one-namespace contract as lshTopK: equal ids are the SAME
    // vector meeting itself, and a sim≈1.0 self-match as best hit would
    // suppress every genuine pair through the margin criterion. Callers
    // whose two sides share id values for DIFFERENT entities must remap
    // ids before mining.
    val scored = c.join(q, Seq("bucket"))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim", cosinePrenormed(col(corpusVec), col(queryVec),
        col("_cn"), col("_qn")))
    marginTop2(scored, queryId, corpusId, marginMu, salts)
  }

  /** Shared tail of the margin miners: salted per-query top-2 cut →
    * (best, runner-up) pivot → µ-floored margin gate. Input is any
    * scored candidate frame (queryId, corpusId, sim). */
  private def marginTop2(scored: DataFrame, queryId: String,
                         corpusId: String, marginMu: Long,
                         salts: Int): DataFrame = {
    val w1 = Window.partitionBy(col(queryId), col("_salt"))
      .orderBy(col("sim").desc, col(corpusId).asc)
    val w2 = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col(corpusId).asc)
    val top2 = scored
      .withColumn("_salt", pmod(xxhash64(col(corpusId)), lit(salts)))
      .withColumn("_r1", row_number().over(w1)).filter(col("_r1") <= 2)
      .withColumn("rn", row_number().over(w2)).filter(col("rn") <= 2)
    top2.groupBy(col(queryId).as("src_id"))
      .agg(
        max(when(col("rn") === 1, col(corpusId))).as("dst_id"),
        max(when(col("rn") === 1, col("sim"))).as("_s1"),
        max(when(col("rn") === 2, col("sim"))).as("_s2"))
      .filter(col("_s2").isNotNull)
      .withColumn("margin_mu",
        floor((col("_s1") - col("_s2")) * lit(1000000.0)).cast("long"))
      .filter(col("margin_mu") >= marginMu)
      .select(col("src_id"), col("dst_id"),
        round(col("_s1"), 6).as("sim"), col("margin_mu"))
  }

  /** CAPLESS exact twin of [[bitextMarginMine]]: the margin criterion
    * evaluated over EVERY corpus candidate (no buckets, no probes) — the
    * ground truth the bucketed miner's recall is measured against. The
    * query side broadcasts against a full corpus scan (the brute-force
    * shape), so callers MUST pass a probe sample as `queries`; this is an
    * evaluation oracle, not a mining path. Same one-namespace self-pair
    * contract and output schema as the miner. */
  def bitextMarginExact(corpus: DataFrame, corpusId: String,
                        corpusVec: String, queries: DataFrame,
                        queryId: String, queryVec: String, marginMu: Long,
                        salts: Int = 64): DataFrame = {
    val c = corpus.withColumn("_cn", norm(col(corpusVec)))
    val q = queries.withColumn("_qn", norm(col(queryVec)))
    val scored = c.join(broadcast(q))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim", cosinePrenormed(col(corpusVec), col(queryVec),
        col("_cn"), col("_qn")))
    marginTop2(scored, queryId, corpusId, marginMu, salts)
  }

  /** What the RHP buckets MISS: one-row precision/recall of the bucketed
    * miner's pairs against the exact capless margin criterion over the
    * same probe queries — the [[recallAtK]] analog for bitext mining.
    * Both inputs are (src_id, dst_id, …) margin-pair frames; the compare
    * is one full-outer equi-join on pair identity, cost independent of
    * corpus size (evaluation rides the probe sample). Rates are floored
    * integer ppm, 0 when the denominator is empty. */
  def bitextRecallReport(mined: DataFrame, exact: DataFrame): DataFrame = {
    val m = mined.select(col("src_id"), col("dst_id"), lit(1).as("_m"))
    val e = exact.select(col("src_id"), col("dst_id"), lit(1).as("_e"))
    e.join(m, Seq("src_id", "dst_id"), "full_outer")
      .agg(count(col("_e")).as("n_exact"), count(col("_m")).as("n_mined"),
        count(when(col("_e").isNotNull && col("_m").isNotNull, 1))
          .as("n_hit"))
      .select(col("n_exact"), col("n_mined"), col("n_hit"),
        when(col("n_mined") === 0, lit(0L))
          .otherwise(expr("(n_hit * 1000000L) div n_mined"))
          .as("precision_ppm"),
        when(col("n_exact") === 0, lit(0L))
          .otherwise(expr("(n_hit * 1000000L) div n_exact"))
          .as("recall_ppm"))
  }

  /** k-CENTER (farthest-point) coreset selection over an embedding column
    * — Gonzalez's greedy 2-approximation for the k-center objective
    * (Theor. Comp. Sci. '85), the standard coreset / active-learning
    * selection baseline (Sener & Savarese, ICLR'18): start from a
    * deterministic seed (the stable-hash-lowest id), then repeatedly pick
    * the point FARTHEST (max cosine distance) from everything selected so
    * far. The embedding-space twin of [[Sampling.maxCoverSelect]] —
    * diversity in geometry instead of shingle coverage.
    *
    * Scale shape: the "aggregate once, iterate with a 1-row argmax"
    * posture — the running state is ONE per-point min-distance frame
    * (id, vec, norm, mind), updated each round by a scalar expression
    * against the new center's literal vector (one linear scan per round,
    * lineage truncated); the argmax is a TakeOrdered 1-row collect. k
    * rounds = k scans, nothing quadratic. Cross-engine exactness: the
    * distance tree (sequential-fold dot, one divide, one subtract, a
    * `least` chain) is identical in the SQL twin, so the doubles — and
    * therefore the argmax ORDER (dist DESC, id ASC) and the reported
    * µ-floors — cannot straddle. Zero-norm vectors are the caller's
    * problem (cosine undefined), as in every cosine op here.
    *
    * `batch` > 1 picks that many points per round instead of one: the
    * round takes the `batch` LARGEST current min-distances at once (dist
    * DESC, id ASC — so within a batch every distance is w.r.t. the
    * centers selected in EARLIER rounds; the batch's own members don't
    * see each other), then runs ONE update scan folding `least` over all
    * `batch` new literal vectors. k sequential Spark jobs become
    * ⌈(k−1)/batch⌉ — the answer to "Gonzalez is inherently sequential"
    * at realistic coreset k (batch farthest-point traversal, the standard
    * batch active-learning relaxation of Sener & Savarese ICLR'18; the
    * 2-approximation loosens to 2 + ε on adversarial batches but
    * batch ≪ k keeps the same geometry in practice). `batch` = 1 is
    * exact Gonzalez.
    *
    * Output: (step, id, dist_mu) — dist_mu NULL on the seed row, steps
    * within a round assigned in (dist DESC, id ASC) order. */
  def kCenterSelect(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, batch: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(batch >= 1, s"batch must be >= 1: $batch")
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol), col(vecCol))
      .withColumn("_n", norm(col(vecCol)))
    def distTo(vec: Seq[Float], n: Double): Column =
      lit(1.0) - dot(col(vecCol), typedLit(vec)) / (col("_n") * lit(n))
    // type-faithful empty frame (the id column keeps the caller's type)
    def emptyResult: DataFrame = corpus.select(
      lit(0).cast("int").as("step"), col(idCol),
      lit(0L).cast("long").as("dist_mu")).limit(0)
    val seedRows = base
      .orderBy(Sampling.stableBucket(col(idCol), 1 << 30), col(idCol))
      .limit(1).collect()
    if (seedRows.isEmpty) return emptyResult
    val seed = seedRows(0)
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Any, Option[Long])]
    picks += ((1, seed.get(0), None))
    var mind = Frames.truncate(base.withColumn("mind",
      distTo(seed.getSeq[Float](1), seed.getDouble(2))))
    var step = 2
    var done = false
    while (step <= k && !done) {
      val want = math.min(batch, k - step + 1)
      val sel = picks.map(_._2).toSeq
      val top = mind.filter(!col(idCol).isin(sel: _*))
        .orderBy(col("mind").desc, col(idCol))
        .limit(want).collect()
      if (top.isEmpty) done = true
      else {
        top.foreach { r =>
          picks += ((step, r.get(0),
            Some(math.floor(r.getDouble(3) * 1e6).toLong)))
          step += 1
        }
        // the running min is only needed by a NEXT round — the final
        // round skips the (corpus-sized) update scan entirely
        if (step <= k) {
          val prev = mind
          val upd = top.foldLeft(col("mind")) { (acc, r) =>
            least(acc, distTo(r.getSeq[Float](1), r.getDouble(2)))
          }
          mind = Frames.truncate(mind.withColumn("mind", upd))
          Frames.release(prev)
        }
      }
    }
    Frames.release(mind)
    picks.map { case (st, id, d) =>
      spark.range(1).select(lit(st).cast("int").as("step"),
        lit(id).as(idCol),
        d.map(v => lit(v)).getOrElse(lit(null)).cast("long").as("dist_mu"))
    }.reduce(_ unionByName _)
  }

  /** Leading-dims truncation of an embedding column — the serving trick
    * matryoshka-style embeddings (MRL, Kusupati et al. NeurIPS'22) are
    * trained for: the first `dims` components carry a usable coarse
    * representation, so a scan can score at dims/d of the compute and IO.
    * The slice keeps its scale: its one caller ranks by cosine, which is
    * scale-invariant. */
  def truncate(vec: Column, dims: Int): Column = {
    require(dims >= 1, s"truncate needs dims >= 1, got $dims")
    slice(vec.cast("array<double>"), 1, dims)
  }

  /** Two-stage coarse-then-exact retrieval shared by the truncated-dims
    * (matryoshka) and random-projection paths: cosine top-`shortlist`
    * under the `coarse` vector transform (cheap scan — full vectors are
    * only read to compute the coarse form), then exact full-dim cosine
    * re-rank of only |queries|·shortlist candidates — the same
    * shortlist-never-decides-order contract as
    * [[graft.functions.Pq.rerankTopK]]. `shortlist ≥ corpus` degenerates
    * to [[bruteForceTopK]]. */
  private def coarseRerankTopK(corpus: DataFrame, corpusId: String,
                               corpusVec: String,
                               queries: DataFrame, queryId: String,
                               queryVec: String, coarseFn: Column => Column,
                               k: Int, shortlist: Int,
                               salts: Int): DataFrame = {
    val c = corpus.select(col(corpusId), col(corpusVec))
      .withColumn("_tc", coarseFn(col(corpusVec)))
      .withColumn("_tcn", norm(col("_tc")))
    val q = queries.select(col(queryId), col(queryVec))
      .withColumn("_tq", coarseFn(col(queryVec)))
      .withColumn("_tqn", norm(col("_tq")))
    val coarse = c.select(col(corpusId), col("_tc"), col("_tcn"))
      .join(broadcast(q.select(col(queryId), col("_tq"), col("_tqn"))))
      .filter(col(corpusId) =!= col(queryId))
      // a zero truncated norm would divide into NaN, which Spark sorts
      // ABOVE every real sim — zero-leading-dims vectors would hijack the
      // shortlist; rank them below every genuine candidate instead
      .withColumn("sim", when(col("_tcn") * col("_tqn") > 0.0,
        cosinePrenormed(col("_tc"), col("_tq"), col("_tcn"), col("_tqn")))
        .otherwise(lit(-2.0)))
    val short = topKPerQuery(coarse, queryId, corpusId, shortlist, salts)
      .select(col("query_id").as(queryId), col("neighbor_id").as(corpusId))
    val cFull = corpus.select(col(corpusId), col(corpusVec))
      .withColumn("_cn", norm(col(corpusVec)))
    val qFull = queries.select(col(queryId), col(queryVec))
      .withColumn("_qn", norm(col(queryVec)))
    val exact = cFull.join(broadcast(short), Seq(corpusId))
      .join(broadcast(qFull), Seq(queryId))
      .withColumn("sim", cosinePrenormed(col(corpusVec), col(queryVec),
        col("_cn"), col("_qn")))
    topKPerQuery(exact, queryId, corpusId, k, salts = 1)
  }

  /** Two-stage truncated-dims retrieval (matryoshka serving): coarse
    * cosine on the first `dims` components, exact re-rank of the
    * shortlist. See [[coarseRerankTopK]] for the contract. */
  def truncatedRerankTopK(corpus: DataFrame, corpusId: String,
                          corpusVec: String,
                          queries: DataFrame, queryId: String,
                          queryVec: String, dims: Int, k: Int,
                          shortlist: Int, salts: Int = 64): DataFrame =
    coarseRerankTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      truncate(_, dims), k, shortlist, salts)

  /** Deterministic sparse random-projection components (Achlioptas 2003,
    * "Database-friendly random projections"): r(j, d) is +s with
    * probability 1/6, −s with probability 1/6, 0 otherwise, where
    * s = sqrt(3 / outDims) — the database-friendly JL distribution whose
    * 2/3 sparsity skips two thirds of the multiply-adds. Entries are a
    * pure integer hash of (output dim, input dim) — no RNG state, so the
    * same matrix materializes on every executor, every run, and in the
    * differential oracle (which embeds these values as SQL literals).
    * Unlike [[truncate]] this mixes ALL input dimensions, so it works on
    * embeddings whose information is spread uniformly instead of
    * front-loaded matryoshka-style. */
  def rpComponents(outDims: Int, dim: Int): Seq[Seq[Double]] = {
    require(outDims >= 1 && dim >= 1, s"rpComponents($outDims, $dim)")
    val s = math.sqrt(3.0 / outDims)
    (0 until outDims).map { j =>
      (0 until dim).map { d =>
        val h = (j.toLong * 6364136223846793005L +
          d.toLong * 1442695040888963407L) ^ 0x9E3779B97F4A7C15L
        java.lang.Long.remainderUnsigned(h * 0x2545F4914F6CDD1DL, 6L) match {
          case 0L => s
          case 1L => -s
          case _  => 0.0
        }
      }
    }
  }

  /** Project an embedding column to `outDims` dimensions with the
    * [[rpComponents]] matrix: each output component is one codegen'd
    * `graft_dot` against a literal row — a scan-stage expression, no
    * shuffle, no UDF. Johnson–Lindenstrauss: pairwise distances are
    * preserved within (1 ± ε) for outDims = O(ln n / ε²). */
  def randomProject(vec: Column, outDims: Int, dim: Int): Column =
    array(rpComponents(outDims, dim).map { comps =>
      dot(vec.cast("array<double>"), array(comps.map(lit): _*))
    }: _*)

  /** Two-stage random-projection retrieval: coarse cosine in the
    * `outDims`-dimensional JL sketch (dim/outDims of the compute and
    * intermediate IO per pair), exact full-dim re-rank of the shortlist.
    * The dimension-reduction counterpart of [[truncatedRerankTopK]] for
    * embeddings without matryoshka training. */
  def rpRerankTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                   queries: DataFrame, queryId: String, queryVec: String,
                   outDims: Int, dim: Int, k: Int, shortlist: Int,
                   salts: Int = 64): DataFrame =
    coarseRerankTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      randomProject(_, outDims, dim), k, shortlist, salts)

  /** Symmetric int8 quantization of an embedding column — the storage
    * transform that cuts a float32 corpus 4× before ANN indexing: per-vector
    * scale = max|x| / 127, q[i] = round(x[i] / scale), zero vectors
    * quantize to zeros with scale 0. Returns struct(scale, q).
    * Dequantize: x ≈ q[i] * scale, with |error| ≤ scale / 2 per component.
    * HOF-based (interpreted) is fine here: quantization is a one-pass
    * storage transform, not the per-pair scoring loop. */
  def quantizeInt8(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = maxAbs / lit(127.0)
    val q = when(maxAbs === 0.0, transform(vec, _ => lit(0)))
      .otherwise(transform(vec,
        x => round(x.cast("double") / scale).cast("int")))
    struct(scale.as("scale"), q.as("q"))
  }

  /** Inverse of `quantizeInt8`: q[i] * scale as double. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Embedding near-duplicate pairs: cosine ≥ threshold, candidates from
    * the RHP bucket join (docs whose signatures match exactly). */
  def embeddingDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, bits: Int, dim: Int): DataFrame = {
    val withBucket = corpus
      .select(col(idCol).alias("id"), col(vecCol).alias("v"))
      .withColumn("bucket", rhpSignature(col("v"), bits, dim))
      .withColumn("n", norm(col("v")))
    val a = withBucket.select(col("bucket"), col("id").alias("id_a"),
      col("v").alias("v_a"), col("n").alias("n_a"))
    val b = withBucket.select(col("bucket"), col("id").alias("id_b"),
      col("v").alias("v_b"), col("n").alias("n_b"))
    // each vector lands in exactly ONE bucket, so a pair can meet at most
    // once — no distinct() needed (it would be a full extra shuffle)
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosinePrenormed(col("v_a"), col("v_b"), col("n_a"), col("n_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).alias("sim"))
  }

  /** Recall@k report of an approximate ANN result against the exact one —
    * the evaluation loop every (bits, nprobe, m, shortlist) knob is tuned
    * with. Both inputs are (query_id, rank, neighbor_id, …) frames from
    * any of the top-k paths. Per query: how many of the exact neighbors
    * the approximate search recovered. One equi-join + one aggregation on
    * k·|queries| rows — evaluation cost is independent of corpus size. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    // distinct: the ranked top-k paths emit unique (query, neighbor) rows,
    // but the public API accepts ANY frame — duplicate approx rows would
    // double-count left-join hits and push recall past 1.0
    val ap = approx.select(col("query_id"), col("neighbor_id")).distinct()
      .withColumn("_hit", lit(1))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(ap, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("_hit")).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 6))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): k-means
    * the embedding space into `numCells` clusters, then mark as duplicate
    * every vector that has a LOWER-id same-cluster neighbor with cosine ≥
    * `threshold`. The clusters bound the quadratic pair work: a corpus of
    * n vectors costs Σ|cell|² pair scores instead of n² — the whole point
    * of clustering first — and each cell's pairs are generated by one
    * equi-join on the cell id (shuffle-distributed, AQE-splittable).
    *
    * Training reuses [[Ivf.train]]'s driver-local stable-sample k-means
    * under the L2 metric (clustering geometry; the within-cell similarity
    * stays cosine, as in the paper). `iters = 0` is anchor mode — cells
    * are the k lowest-id sample vectors, which an external SQL oracle can
    * recompute exactly; production default is trained cells.
    *
    * `maxCell` is the skew guard every quadratic candidate generator in
    * this repo carries (the `Dedup.capGroups` pattern): the in-cell
    * self-join emits Σ|cell|² pairs, and k-means cells skew — one
    * boilerplate-heavy cluster holding 10% of a 100 TB corpus would put
    * ~10¹² pair scores into a single join key group. Cells above the cap
    * are EXCLUDED from pairing (their members report keep = true,
    * uncompared) — declared semantics, mirrored by the SQL oracle. Hot
    * cells deserve a re-cluster with larger k, not a quadratic scan. The
    * hot-cell set is by construction ≤ n/maxCell keys, detected by a
    * count-only aggregate (reads just the cell column) and removed with a
    * broadcast anti-join — no window, no sort.
    *
    * Output: (id, cell, keep) — keep = false iff a lower-id near-dup
    * shares the (under-cap) cell. Deterministic: assignment ties break
    * toward the lowest cell id and the keep rule is a pure min-id order,
    * so the report is a function of the data alone. */
  def semanticDupReport(corpus: DataFrame, idCol: String, vecCol: String,
                        numCells: Int, threshold: Double, iters: Int = 2,
                        samplePct: Int = 100, sampleCap: Int = 100000,
                        maxCell: Int = 10000): DataFrame = {
    val centroids = Ivf.train(corpus, idCol, vecCol, numCells, iters,
      samplePct, sampleCap, metric = "l2")
    val indexed = Ivf.index(corpus, idCol, vecCol, centroids, metric = "l2")
    val hot = indexed.groupBy(col("cell")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxCell).select(col("cell"))
    val pairable = indexed.join(broadcast(hot), Seq("cell"), "left_anti")
    val a = pairable.select(col("cell"), col(idCol).as("id_a"),
      col(vecCol).as("v_a"), col("_cn").as("n_a"))
    val b = pairable.select(col("cell"), col(idCol).as("id_b"),
      col(vecCol).as("v_b"), col("_cn").as("n_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosinePrenormed(col("v_a"), col("v_b"),
        col("n_a"), col("n_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_b").as("_drop_id")).distinct()
    indexed.select(col(idCol), col("cell"))
      .join(dropped, col(idCol) === col("_drop_id"), "left")
      .select(col(idCol), col("cell"), col("_drop_id").isNull.as("keep"))
  }

  /** Exact (non-LSH) near-duplicate pairs for small corpora / oracle
    * verification: inverted-index-free full pair scoring via a self-join;
    * O(n²) — only for validation at small SF, never the scale path. */
  def exactDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double): DataFrame = {
    val normed = corpus.withColumn("_n", norm(col(vecCol)))
    val a = normed.select(col(idCol).alias("id_a"), col(vecCol).alias("v_a"),
      col("_n").alias("n_a"))
    val b = normed.select(col(idCol).alias("id_b"), col(vecCol).alias("v_b"),
      col("_n").alias("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", cosinePrenormed(col("v_a"), col("v_b"), col("n_a"), col("n_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).alias("sim"))
  }

  /** Corpus composition profile by embedding cluster — the
    * mixture-design view of a corpus: assign every vector to its nearest
    * k-means cell (shared trainer/assigner with IVF and SemDeDup) and
    * report, per cell, its population, cohesion (mean cosine to the
    * centroid — low cohesion flags a cell that needs re-clustering or a
    * junk region), and label purity (the dominant metadata label and its
    * share — how well clusters align with a known facet). This is the
    * pass a pipeline runs before setting mixture weights or choosing
    * SemDeDup cells: which regions dominate, which are coherent, which
    * label does each represent.
    *
    * Scale shape: centroids broadcast onto a single corpus scan (the
    * assignment), then two bounded aggregations — per-cell stats
    * (≤ numCells rows) and per-(cell,label) counts (≤ numCells × labels
    * rows) reduced to top-1 by `max_by` (no window over corpus data).
    * The cosine sum rides DECIMAL so cohesion is accumulation-order-free.
    *
    * Output: (cell, n_vectors, mean_cos, top_label, top_label_share);
    * ties on label frequency break toward the lowest label. */
  def clusterProfile(corpus: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, numCells: Int, iters: Int = 2,
                     samplePct: Int = 100, sampleCap: Int = 100000): DataFrame = {
    val centroids = Ivf.train(corpus, idCol, vecCol, numCells, iters,
      samplePct, sampleCap, metric = "l2")
    val indexed = Ivf.index(corpus, idCol, vecCol, centroids, metric = "l2")
    val stats = indexed
      .join(broadcast(centroids), col("cell") === col("cid"))
      .withColumn("_cos", when(col("_cn") > 0, cosinePrenormed(
        col(vecCol).cast("array<double>"), col("cvec"),
        col("_cn"), col("cnorm"))).otherwise(lit(0.0)))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("_cos").cast("decimal(27,12)")).as("_s"))
    val top = indexed
      .join(corpus.select(col(idCol), col(labelCol).as("_lbl")), Seq(idCol))
      .groupBy(col("cell"), col("_lbl"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("cell"))
      .agg(max_by(struct(col("_lbl"), col("_c")),
        struct(col("_c"), (-col("_lbl")).as("_neg"))).as("_t"))
      .select(col("cell"), col("_t").getField("_lbl").as("top_label"),
        col("_t").getField("_c").as("_tc"))
    stats.join(top, Seq("cell"))
      .select(col("cell"), col("n_vectors"),
        round(col("_s").cast("double") / col("n_vectors"), 6).as("mean_cos"),
        col("top_label"),
        round(col("_tc").cast("double") / col("n_vectors"), 6)
          .as("top_label_share"))
  }

  /** Nearest-centroid (Rocchio) classification over an embedding column —
    * the cheap-and-cheerful label-propagation pass a pipeline runs to
    * extend a small labeled seed set over an unlabeled corpus (domain
    * tagging, topic routing, quality tiers): each class's centroid is the
    * MEAN of its labeled vectors, every unlabeled vector gets the label of
    * its most-cosine-similar centroid plus a confidence margin (best −
    * second-best cosine; low margin = ambiguous, route to review).
    *
    * The labeled/unlabeled split is the stable md5 bucket
    * ([[Sampling.stableBucket]] < `trainPct`) so the report is a pure
    * function of the data — and doubles as holdout evaluation: the held-out
    * vectors DO carry true labels here, so `correct` measures
    * nearest-centroid accuracy for free.
    *
    * Scale shape: centroids are per-(label, position) aggregations of the
    * exploded labeled subset — map-side combined, output bounded by
    * labels × dim rows regardless of corpus size — reassembled into
    * labels-many array rows that BROADCAST onto a single unlabeled-corpus
    * scan (the [[clusterProfile]] assignment shape). The per-vector argmax
    * is a labels-sized window per vector id — bounded fan-out, never a
    * corpus-wide sort. Centroid components sum through DECIMAL (mean is
    * accumulation-order-free, so the model is identical on any cluster
    * layout); cosines round to 6 in the report.
    *
    * Output: (id, true_label, pred_label, cos, margin, correct) — one row
    * per held-out vector. Ties break toward the lowest label; `margin`
    * falls back to cos − (−1) when only one class exists. */
  def nearestCentroidClassify(vectors: DataFrame, idCol: String,
                              vecCol: String, labelCol: String,
                              trainPct: Int = 80): DataFrame = {
    val bucket = Sampling.stableBucket(col(idCol))
    val train = vectors.filter(bucket < trainPct)
    val test = vectors.filter(bucket >= trainPct)
    val comp = train
      .select(col(labelCol).as("_lbl"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("_p", "_v")))
      .groupBy(col("_lbl"), col("_p"))
      .agg((sum(col("_v").cast("decimal(27,12)")).cast("double") /
        count(lit(1))).as("_c"))
    val centroids = comp.groupBy(col("_lbl"))
      .agg(transform(
        array_sort(collect_list(struct(col("_p"), col("_c")))),
        _.getField("_c")).as("_cvec"))
      .withColumn("_cnorm", norm(col("_cvec")))
    val scored = test
      .select(col(idCol), col(labelCol).as("true_label"),
        col(vecCol).cast("array<double>").as("_tv"))
      .withColumn("_tn", norm(col("_tv")))
      .crossJoin(broadcast(centroids))
      .withColumn("_cos", when(col("_tn") > 0 && col("_cnorm") > 0,
        cosinePrenormed(col("_tv"), col("_cvec"), col("_tn"), col("_cnorm")))
        .otherwise(lit(0.0)))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("_cos").desc, col("_lbl").asc)
    scored
      .withColumn("_rn", row_number().over(w))
      .withColumn("_next", lead(col("_cos"), 1).over(w))
      .filter(col("_rn") === 1)
      .select(col(idCol), col("true_label"), col("_lbl").as("pred_label"),
        round(col("_cos"), 6).as("cos"),
        round(col("_cos") - coalesce(col("_next"), lit(-1.0)), 6).as("margin"),
        (col("_lbl") === col("true_label")).as("correct"))
  }

  /** kNN label-noise screen (the confident-learning-style data audit):
    * for a probe sample, does each vector's label agree with the STRICT
    * MAJORITY of its k nearest neighbors' labels? A label class with a
    * high disagreement rate is mislabeled, under-clustered, or defined
    * differently than its neighbors — the check a labeled-embedding
    * corpus runs before training a classifier on it.
    *
    * Probes are a caller-chosen sample (stable hash / modulus — the rate
    * controls cost): the kNN pass is probes × corpus via the shared
    * brute-force top-k (exact, oracle-checkable). At 100 TB swap the
    * neighbor source for the LSH-bucketed candidate pairs and treat the
    * report as an estimate — the aggregation shape is unchanged.
    *
    * Output: (label, n_probes, n_clean, noise_ppm) — strict majority
    * (2·same > k) so an exact tie counts as noisy, never
    * engine-dependent. */
  def labelNoiseReport(corpus: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, probes: DataFrame,
                       k: Int = 5): DataFrame = {
    val nn = bruteForceTopK(
      corpus.select(col(idCol).as("nid"), col(vecCol).as("nv")),
      "nid", "nv",
      probes.select(col(idCol).as("qid"), col(vecCol).as("qv")),
      "qid", "qv", k)
    val per = nn
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("_nl")), Seq("neighbor_id"))
      .join(corpus.select(col(idCol).as("query_id"),
        col(labelCol).as("_ql")), Seq("query_id"))
      .groupBy(col("query_id"), col("_ql"))
      .agg(count(when(col("_nl") === col("_ql"), 1)).as("_same"),
        count(lit(1)).as("_nbrs"))
    val clean = count(when(col("_same") * 2 > col("_nbrs"), 1))
    per.groupBy(col("_ql").as("label"))
      .agg(count(lit(1)).as("n_probes"), clean.as("n_clean"),
        Sampling.intDiv(
          (count(lit(1)) - clean).cast("decimal(38,0)") * lit(1000000L),
          count(lit(1)).cast("decimal(38,0)")).as("noise_ppm"))
  }

  /** Deterministic NN-descent k-NN GRAPH (Dong, Moses & Li, WWW'11) —
    * the neighbor-graph ANN family member: build every point's top-k
    * cosine neighbors by iterative neighbor-of-neighbor refinement,
    * the approach that wins the high-recall regime where cell/bucket
    * methods (IVF/LSH) must over-probe.
    *
    * Determinized for the differential oracle (the PageRank/k-means
    * precedent — bounded unrollable rounds, explicit tie-breaks):
    *   - init: TWO independent LSH tables ([[rhpSignature]] tables 0
    *     and 1); within each bucket of each table, members sort by
    *     (md5(id), id) and each links to the next `initWindow` members
    *     (both directions) — ≤ 2·initWindow candidates per point per
    *     side, never the quadratic bucket. Two tables, not one, because
    *     the refinement below is CLOSED under the init's connectivity:
    *     neighbor-of-neighbor candidates can never cross a component
    *     boundary, so a single table's bucket walls would persist into
    *     the final graph as missing edges (measured on a ring manifold:
    *     nodes at bucket boundaries kept one-sided neighborhoods and
    *     beam search recall cliffed). Overlapping tables chain buckets
    *     together and the defect disappears.
    *   - round: reverse edges capped at k per target in (md5, id)
    *     order (the reverse-sample of the paper, determinized), then
    *     candidates = neighbors-of-neighbors ∪ current edges, rescored
    *     and cut to top-k by (sim DESC, id ASC).
    *   - `rounds` is FIXED (not convergence-tested) so an oracle can
    *     unroll the identical computation.
    *   - `buildK` (effective max(k, buildK)) is the INTERNAL frontier
    *     width: rounds keep top-buildK lists (and cap reverse edges at
    *     buildK) and only the final output cuts to k. On structureless
    *     (near-random) embeddings a k-wide frontier starves the
    *     neighbor-of-neighbor candidate flow — measured on the sf0.01
    *     synthetic corpus (which IS near-random: max off-diagonal
    *     cosine ≈ 0.37), k=5 frontiers saturate at recall ≈ 0.45 even
    *     at 8 rounds, while buildK=16 reaches ≈ 0.9 in 2 rounds. This
    *     is the standard NN-descent deployment shape (the paper's K is
    *     the build degree, not the query k); cost per round grows as
    *     buildK² per node, still bounded and corpus-scan-free.
    *
    * Scale shape: every stage is bounded per node — init ≤ 4·initWindow
    * edges, rounds join ≤ 2·buildK-degree relations so candidates ≤
    * 4·buildK² per node — and the per-node top-k windows run on frames
    * bounded by construction (no salting needed, unlike corpus-wide
    * top-k). Each round persists + truncates lineage
    * ([[Frames.truncate]]).
    *
    * Output: one row per graph edge — (node_id, rank, neighbor_id,
    * sim), rank 1..k by descending cosine. */
  def nnDescentGraph(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, rounds: Int, bits: Int, dim: Int,
                     initWindow: Int = 4, buildK: Int = 0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 0, "rounds must be >= 0")
    require(initWindow >= 1, "initWindow must be >= 1")
    val bk = math.max(k, buildK)
    val b = nnIndex(corpus, idCol, vecCol, bits, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val initPairs = nnInitLinks(b, initWindow, newOnly = false)
    var g = Frames.truncate(nnTopK(nnScore(b, initPairs), bk, "_r").drop("_r"))
    (1 to rounds).foreach { _ =>
      val cand = nnDedup(nnCandidates(g, bk, ball = None)
        .unionByName(g.select(col("node"), col("nbr"))))
      val next =
        Frames.truncate(nnTopK(nnScore(b, cand), bk, "_r").drop("_r"))
      Frames.release(g) // checkpoint blocks — Dataset.unpersist is a no-op
      g = next
    }
    val out = nnTopK(g, k, "rank")
      .select(col("node").as("node_id"), col("rank"), col("nbr")
        .as("neighbor_id"), round(col("sim"), 6).as("sim"))
      .transform(Frames.truncate)
    // truncate above is eager, so the final round's blocks (and the
    // corpus index) release before the caller consumes the graph —
    // the persists-die-at-query-end hygiene rule
    Frames.release(g)
    b.unpersist(false)
    out
  }

  // The NN-descent steps, shared by the rebuild ([[nnDescentGraph]]) and
  // the incremental path ([[appendToGraph]], and [[deleteFromGraph]]
  // through it): append's links and rounds must be the rebuild's.

  /** The corpus index every step reads: (_nid, _nv, its norm _nn, and
    * its bucket in LSH tables 0 and 1). */
  private def nnIndex(vectors: DataFrame, idCol: String, vecCol: String,
                      bits: Int, dim: Int): DataFrame =
    vectors.select(col(idCol).as("_nid"), col(vecCol).as("_nv"))
      .withColumn("_nn", norm(col("_nv")))
      .withColumn("_bucket", rhpSignature(col("_nv"), bits, dim))
      .withColumn("_bucket2", rhpSignature(col("_nv"), bits, dim, table = 1))

  /** (node, nbr) pairs → (node, nbr, sim), cosine over the index `b`. */
  private def nnScore(b: DataFrame, pairs: DataFrame): DataFrame = pairs
    .join(b.select(col("_nid").as("node"), col("_nv").as("_v1"),
      col("_nn").as("_n1")), Seq("node"))
    .join(b.select(col("_nid").as("nbr"), col("_nv").as("_v2"),
      col("_nn").as("_n2")), Seq("nbr"))
    .withColumn("sim", cosinePrenormed(col("_v1"), col("_v2"),
      col("_n1"), col("_n2")))
    .select(col("node"), col("nbr"), col("sim"))

  /** Each node's top `n` by (sim DESC, nbr ASC), ranked 1..n in `rankCol`. */
  private def nnTopK(scored: DataFrame, n: Int, rankCol: String): DataFrame =
    scored
      .withColumn(rankCol, row_number().over(Window.partitionBy(col("node"))
        .orderBy(col("sim").desc, col("nbr").asc)))
      .filter(col(rankCol) <= n)

  // pair dedup as a per-node set aggregate, NOT `.distinct()`: the
  // same pairs survive (set semantics per node), but the frame comes
  // out hash-partitioned by `node` — the partitioning the `nnScore`
  // broadcast joins preserve and the top-k window needs — so each
  // round runs ONE exchange (here) instead of two (pair-wise distinct
  // + window repartition). Set size is bounded by the round invariant
  // (≤ 4·buildK² candidates per node), so the per-node array is safe
  // at any corpus size. Candidate order inside the set is irrelevant:
  // the window's (sim DESC, nbr ASC) order is total.
  private def nnDedup(pairs: DataFrame): DataFrame = pairs
    .groupBy(col("node")).agg(collect_set(col("nbr")).as("_cs"))
    .select(col("node"), explode(col("_cs")).as("nbr"))

  /** The init links of [[nnDescentGraph]], both directions, deduplicated
    * per node. `newOnly` keeps just the links that touch a row whose
    * `_isnew` is set (append's screen; `b` must then carry `_isnew`). */
  private def nnInitLinks(b: DataFrame, initWindow: Int,
                          newOnly: Boolean): DataFrame = {
    // Cost shape: each bucket is ONE window partition, so one task sorts
    // (and buffers, spilling past the window spill threshold) all of a
    // bucket's rows. Nothing caps a bucket: `bits` sign bits give at most
    // 2^bits buckets per table, so the step has at most 2^bits-way
    // parallelism and a bucket holds ~n / 2^bits rows on spread-out
    // vectors — but up to all n on clustered or duplicated vectors. Only
    // `bits` and the data bound it. Salting the bucket would cut the band
    // at every salt boundary and change the links, which the AnnGraphSpec
    // bit-determinism pins and the ann_graph_* oracles hold fixed.
    def windowLinks(bucketCol: String): DataFrame = {
      val wBucket = Window.partitionBy(col(bucketCol))
        .orderBy(Dedup.Md5Hasher(col("_nid").cast("string")), col("_nid"))
      // under `newOnly` the later row's is-new flag rides its lead beside
      // its id, so the screen sees both ends of a link
      val carry = if (newOnly) Seq(col("_isnew")) else Nil
      val later =
        if (newOnly) struct(col("_nid").as("n"), col("_isnew").as("i"))
        else col("_nid")
      // pair row i with rows i+1 … i+initWindow of its bucket via lead()
      // over ONE window: the former self-join on the ≤ 2^bits bucket key
      // materialized |bucket|² intermediate rows per bucket — quadratic
      // in corpus size — before the rank-distance filter dropped all but
      // the (rn2 − rn) ∈ [1, initWindow] band; lead() emits exactly that
      // band and nothing else (nulls past the partition end filtered).
      // Leads materialize in their own projection — a window expression
      // may not live inside the generator.
      val band = b.select(col(bucketCol) +: col("_nid") +: carry ++:
          (1 to initWindow).map(d =>
            lead(later, d).over(wBucket).as(s"_l$d")): _*)
        .select(Seq(col("_nid").as("node")) ++ carry :+
          explode(array((1 to initWindow).map(d => col(s"_l$d")): _*))
            .as("nbr"): _*)
        .filter(col("nbr").isNotNull)
      if (newOnly) band.filter(col("_isnew") || col("nbr.i"))
        .select(col("node"), col("nbr.n").as("nbr"))
      else band
    }
    val fwd = windowLinks("_bucket").unionByName(windowLinks("_bucket2"))
    nnDedup(fwd
      .unionByName(fwd.select(col("nbr").as("node"), col("node").as("nbr"))))
  }

  /** One refinement round's new candidates over the graph `g`: reverse
    * edges capped at `bk` per target in (md5, id) order, then every
    * neighbor of a neighbor over current ∪ reverse edges. `ball` limits
    * the first hop to its nodes (append's in-ball round). */
  private def nnCandidates(g: DataFrame, bk: Int,
                           ball: Option[DataFrame]): DataFrame = {
    val rev = g.select(col("nbr").as("node"), col("node").as("nbr"))
      .withColumn("_r", row_number().over(Window.partitionBy(col("node"))
        .orderBy(Dedup.Md5Hasher(col("nbr").cast("string")), col("nbr"))))
      .filter(col("_r") <= bk).drop("_r")
    // rel deduped by node: the neighbor-of-neighbor join reads rel
    // twice — keyed by `node` (as _mid, build side) and by `_mid` —
    // and the node-partitioned form feeds the second read without a
    // fresh exchange
    val rel = nnDedup(g.select(col("node"), col("nbr")).unionByName(rev))
    ball.fold(rel)(rel.join(_, Seq("node"), "left_semi"))
      .select(col("node"), col("nbr").as("_mid"))
      .join(rel.select(col("node").as("_mid"), col("nbr").as("_cand")),
        Seq("_mid"))
      .filter(col("node") =!= col("_cand"))
      .select(col("node"), col("_cand").as("nbr"))
  }

  /** KNN-SHAPLEY data valuation (Jia, Dao, Wang et al., VLDB 2019 —
    * "Efficient Task-Specific Data Valuation for Nearest Neighbor
    * Algorithms"): the exact, closed-form Shapley value of every
    * training point for a K-NN classifier's accuracy on a probe set —
    * the data-valuation pass a pipeline runs to find which examples
    * (and which labels/sources, after aggregation) actually help a
    * validation set, and which are dead weight or harmful (negative
    * value). Unlike Monte-Carlo Shapley this is EXACT in one
    * O(N log N)-per-probe pass: with training points sorted by distance
    * to the probe (rank i = 1 nearest … N farthest, m_i = 1 iff the
    * label matches the probe's),
    *   s_N = m_N / N,
    *   s_i = s_{i+1} + (m_i − m_{i+1})/K · min(i, K)/i,
    * i.e. a suffix sum over the similarity-ranked scan.
    *
    * Determinized for the differential oracle: ranks order by
    * (cosine DESC, id ASC) — the shared brute-force tie-break — and
    * every term is floored to integer MICRO-MICRO units (qq, 10⁻¹²)
    * via exact decimal floor division BEFORE summing, so the suffix
    * sums are order-free integer sums (the vocab_zipf pmod-floor
    * discipline; the quantization error is ≤ N·10⁻¹² per probe,
    * declared). Probes broadcast onto ONE corpus scan (the brute-force
    * shape); the per-probe rank window is the same corpus-sized sort a
    * brute-force top-N pays — at 100 TB run it over a stable-bucket
    * sample of probes and/or corpus, the aggregation shape unchanged.
    *
    * Output: (query_id, nid, label, rank, value_qq) — one row per
    * (probe, training point). Σ value_qq over a probe ≈ the K-NN
    * accuracy on it (the Shapley efficiency axiom, quantized). */
  def knnShapleyValues(corpus: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, probes: DataFrame, queryId: String,
                       queryVec: String, queryLabel: String,
                       k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
        col(labelCol).as("_nl"))
      .withColumn("_cn", norm(col("nv")))
    val q = probes.select(col(queryId).as("qid"), col(queryVec).as("qv"),
        col(queryLabel).as("_ql"))
      .withColumn("_qn", norm(col("qv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    val wAll = Window.partitionBy(col("qid"))
    val qq = lit(1000000000000L)
    val scored = c.join(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("sim", cosinePrenormed(col("nv"), col("qv"),
        col("_cn"), col("_qn")))
      // drop the vector payloads BEFORE the windows: the per-probe rank
      // sort would otherwise ship both 64-float arrays per row (measured
      // 27 s → ~3 s at sf1.0 from this projection alone)
      .select(col("qid"), col("nid"), col("_nl"), col("_ql"), col("sim"))
      .withColumn("rank", row_number().over(w))
      .withColumn("_m", (col("_nl") === col("_ql")).cast("long"))
      .withColumn("_mn", lead(col("_m"), 1).over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
    // per-rank term, floored to qq units (exact integer from here on):
    // rank N carries the base case m_N/N, ranks below the recursion step
    val term = when(col("_mn").isNull,
        Sampling.intDivExact(col("_m") * qq, col("_n")))
      .otherwise(Sampling.intDivExact(
        (col("_m") - col("_mn")) * least(col("rank"), lit(k.toLong)) * qq,
        lit(k.toLong) * col("rank")))
    // suffix sum spelled as a RUNNING sum in descending rank order:
    // Spark's UNBOUNDED FOLLOWING frame re-scans current-row→end for
    // every row (O(n²) per partition — measured 30 s at sf1.0 on 20 k
    // vectors); the incremental UNBOUNDED PRECEDING frame is O(n) and
    // sums the identical integer set (order-free by construction)
    val wSuffix = Window.partitionBy(col("qid")).orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("_t", term)
      .withColumn("value_qq", sum(col("_t")).over(wSuffix))
      .select(col("qid").as("query_id"), col("nid"), col("_nl").as("label"),
        col("rank"), col("value_qq"))
  }

  /** INCREMENTAL maintenance for the NN-descent graph — the append path
    * that lets a growing corpus update its k-NN graph without a full
    * rebuild. Semantics: new vectors are linked in by exactly the
    * rebuild's init rule (md5-window links inside both LSH tables'
    * buckets, restricted to pairs that TOUCH a new node), then
    * `rounds` NN-descent refinement rounds run restricted to the
    * AFFECTED BALL — the new nodes plus everything graph-adjacent to a
    * previously-affected node, which grows by one hop per round. Nodes
    * outside the ball keep their edge lists verbatim, so the cost is
    * O(|Δ| · (2k)^rounds) candidate work instead of a corpus-wide
    * rebuild.
    *
    * DECLARED DELTA vs a from-scratch rebuild: inside the ball the
    * refinement sees the same candidates a rebuild would (plus the
    * already-refined old edges, which is strictly more information);
    * outside the ball an old node whose true top-k should now include a
    * new vector learns of it only if it is within `rounds` reverse hops
    * of the insertion region — the same locality bound a rebuild's
    * fixed `rounds` impose on information flow from any single init
    * edge. AppendGraphSpec pins the resulting recall to within 0.05 of
    * the rebuilt graph on a planted manifold.
    *
    * `graph` must be the (node_id, rank, neighbor_id, sim) output of
    * [[nnDescentGraph]] (or a prior append) over `oldCorpus` with the
    * SAME k/bits/dim/initWindow; new ids must be disjoint from old ids.
    *
    * Scale shape: the two init windows are per-bucket sorts of the
    * union corpus (linear, same as a rebuild's init — this is the cheap
    * stage); every refinement join is restricted by a semi-join on the
    * affected set before it fans out, so round cost tracks |Δ|, not
    * corpus size. Per-round lineage truncation as in the rebuild. */
  def appendToGraph(graph: DataFrame, oldCorpus: DataFrame,
                    newVectors: DataFrame, idCol: String, vecCol: String,
                    k: Int, rounds: Int, bits: Int, dim: Int,
                    initWindow: Int = 4, buildK: Int = 0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 0, "rounds must be >= 0")
    // internal frontier width, as in the rebuild. DECLARED DELTA on top
    // of the ball locality: the stored artifact is k-wide, so in-ball
    // re-ranks start from k-wide (not buildK-wide) old lists — the
    // widened frontier applies from the first refinement round on.
    val bk = math.max(k, buildK)
    val all = oldCorpus.select(col(idCol), col(vecCol))
      .unionByName(newVectors.select(col(idCol), col(vecCol)))
    val newIds = newVectors.select(col(idCol).as("_newid"))
    val b = nnIndex(all, idCol, vecCol, bits, dim)
      .join(newIds, col("_nid") === col("_newid"), "left")
      .withColumn("_isnew", col("_newid").isNotNull)
      .drop("_newid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the rebuild's init links, kept only where a new node is touched
    val seed = nnInitLinks(b, initWindow, newOnly = true)

    val gOld = graph.select(col("node_id").as("node"),
      col("neighbor_id").as("nbr"), col("sim"), col("rank"))
    // NOTE (r15): an A/B replacing these eager truncates with lazy
    // persists (hoping to drop the dedicated checkpoint job per round)
    // measured ann_graph_delete 10.5 → 25.3 s — the ExistingRDD the
    // checkpoint leaves behind is what lets the splice's semi/anti
    // joins against the tiny ball BROADCAST; a lazy cached subtree
    // plans as a full join before any size is known. Truncation stays.
    var affected = Frames.truncate(seed.select(col("node")).distinct())
    // splice the ball: in-ball nodes rank over (new candidates ∪ their
    // existing edges), RESCORED — the stored graph carries round-6 sims,
    // so reusing them beside fresh unrounded scores would leave duplicate
    // (node, nbr) rows in the top-k cut; everyone else keeps their list
    // AND their rank verbatim. The rank is assigned here, from unrounded
    // sims: re-ranking untouched nodes from the stored round-6 sims could
    // flip near-tie orders a rebuild (which ranks on unrounded sims)
    // would not, and would make even an empty append not an identity.
    def splice(g: DataFrame, aff: DataFrame, cand: DataFrame): DataFrame = {
      val inBallEdges = g.join(aff, Seq("node"), "left_semi")
        .select(col("node"), col("nbr"))
      val outBall = g.join(aff, Seq("node"), "left_anti")
        .select(col("node"), col("nbr"), col("sim"), col("rank"))
      Frames.truncate(
        nnTopK(nnScore(b, nnDedup(cand.unionByName(inBallEdges))), bk, "rank")
          .unionByName(outBall))
    }
    var g = splice(gOld, affected, seed)
    (1 to rounds).foreach { _ =>
      // grow the ball by one graph hop (both directions)
      val touch = g.join(affected, Seq("node"), "left_semi")
        .select(col("nbr").as("node"))
        .unionByName(g.join(
          affected.select(col("node").as("nbr")), Seq("nbr"), "left_semi")
          .select(col("node")))
        .unionByName(affected.select(col("node")))
        .distinct()
      val nextAffected = Frames.truncate(touch)
      // the rebuild's round, first hop restricted to the ball
      val next = splice(g, nextAffected,
        nnCandidates(g, bk, ball = Some(nextAffected)))
      Frames.release(g) // checkpoint blocks — Dataset.unpersist is a no-op
      Frames.release(affected)
      g = next
      affected = nextAffected
    }
    val out = g
      .filter(col("rank") <= k)
      .select(col("node").as("node_id"), col("rank"),
        col("nbr").as("neighbor_id"), round(col("sim"), 6).as("sim"))
      .transform(Frames.truncate)
    Frames.release(g)
    Frames.release(affected)
    b.unpersist(false)
    out
  }

  /** DELETE vectors from a persisted kNN graph — [[appendToGraph]]'s
    * inverse, completing the takedown family (groups/datacard/LSH/IVF/
    * Merkle all have deletes; HLL is documented non-deletable). Expressed
    * AS a re-insert: prune every edge row of a deleted node, then treat
    * the AFFECTED survivors — nodes that lost at least one neighbor —
    * as fresh inserts into the pruned graph. [[appendToGraph]] already
    * does exactly the needed repair: it re-splices a ball around the
    * "new" nodes (window links + `rounds` of in-ball refinement,
    * rescored unrounded) and leaves every untouched node's list AND
    * ranks verbatim — so delete inherits append's spec'd
    * tracks-the-rebuild contract instead of duplicating 100 lines of
    * ball plumbing, and a delete that touches nothing (ids nobody
    * linked to) is the exact identity by append's own empty-delta
    * identity.
    *
    * Scale shape: two anti-joins + one semi-join to find the ball seed,
    * then append's cost on |affected| ≪ |graph| nodes — never a rebuild.
    * A mass delete (most of the corpus) degenerates toward rebuild cost
    * by construction; rebuild instead at that point. */
  def deleteFromGraph(graph: DataFrame, corpus: DataFrame,
                      deletedIds: DataFrame, idCol: String, vecCol: String,
                      k: Int, rounds: Int, bits: Int, dim: Int,
                      initWindow: Int = 4, buildK: Int = 0): DataFrame = {
    val del = deletedIds.select(col(idCol).as("_did")).distinct()
    val remaining = corpus.join(del, corpus(idCol) === col("_did"),
      "left_anti")
    val gSurvive = graph.join(del, col("node_id") === col("_did"),
      "left_anti")
    val affected = gSurvive
      .join(del, col("neighbor_id") === col("_did"), "left_semi")
      .select(col("node_id").as(idCol)).distinct()
    // affected nodes' rows drop entirely — they re-enter as inserts and
    // get wholly fresh lists; unaffected survivors keep rows verbatim
    val gPruned = gSurvive
      .join(affected.select(col(idCol).as("node_id")), Seq("node_id"),
        "left_anti")
    val affVecs = remaining.join(
      affected, remaining(idCol) === affected(idCol), "left_semi")
    val others = remaining.join(
      affected, remaining(idCol) === affected(idCol), "left_anti")
    appendToGraph(gPruned, others, affVecs, idCol, vecCol, k, rounds,
      bits, dim, initWindow, buildK)
  }

  /** Greedy BEAM SEARCH over a k-NN graph — the SERVING path of graph
    * ANN (the HNSW/NSG query loop, single-layer): start every query at
    * a deterministic SET of entry points — the md5-min corpus id per
    * LSH bucket ([[rhpSignature]], the same `bits`/`dim` family the
    * graph build's init used) — then `steps` unrollable rounds of
    * expand-neighbors → score → keep the best `beamWidth` by
    * (sim DESC, id ASC). Multi-entry is the recall safety net a greedy
    * graph walk needs: a single global entry point makes any
    * disconnected (or merely badly-linked) graph region unreachable and
    * recall cliffs silently; one md5-min per LSH bucket seeds every
    * coarse direction of the space for at most 2^bits extra beam rows
    * in round 1, after which the beamWidth cut applies as usual. The
    * simplification vs the textbook loop is declared: no visited-set
    * (each round re-ranks beam ∪ neighbors(beam), which is monotone
    * non-worsening and keeps the computation a pure function SQL can
    * unroll), fixed rounds instead of convergence.
    *
    * Scale shape: the graph is the big artifact; the search is tiny —
    * per query per round ≤ beamWidth·(k+1) candidates (round 1:
    * ≤ 2^bits·(k+1)), expanded by one equi-join against the graph and
    * scored against the broadcast query vectors. The entry set is a
    * ≤ 2^bits-row aggregate of one corpus scan, computed once and
    * broadcast. No corpus scan at query time beyond that: that is the
    * whole point of serving from a graph.
    *
    * Output: (query_id, rank, neighbor_id, sim), self-matches excluded. */
  def graphBeamSearch(graph: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, queries: DataFrame, queryId: String,
                      queryVec: String, k: Int, beamWidth: Int,
                      steps: Int, bits: Int, dim: Int): DataFrame = {
    require(beamWidth >= k, "beamWidth must be >= k")
    require(steps >= 1, "steps must be >= 1")
    val b = corpus.select(col(idCol).as("_nid"), col(vecCol).as("_nv"))
      .withColumn("_nn", norm(col("_nv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = queries.select(col(queryId).as("qid"), col(queryVec).as("qv"))
      .withColumn("_qn", norm(col("qv")))
    val g = graph.select(col("node_id").as("nid"),
      col("neighbor_id").as("_nbr"))
    // one entry per occupied LSH bucket, md5-min within the bucket —
    // deterministic, ≤ 2^bits rows, one bounded window over the corpus
    val wE = Window.partitionBy(col("_bucket"))
      .orderBy(Dedup.Md5Hasher(col("_nid").cast("string")), col("_nid"))
    val entries = b
      .withColumn("_bucket", rhpSignature(col("_nv"), bits, dim))
      .withColumn("_er", row_number().over(wE))
      .filter(col("_er") === 1)
      .select(col("_nid").as("nid"))
    // self-matches are kept DURING traversal and excluded only from the
    // final ranking (the textbook HNSW behavior): for a query that is
    // itself a corpus member, its own graph node is the best possible
    // hub — its edges point at exactly its true top-k — and filtering
    // it mid-walk was measured to halve recall on clustered data
    def score(cand: DataFrame): DataFrame = cand
      .join(b.withColumnRenamed("_nid", "nid"), Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("sim", cosinePrenormed(col("_nv"), col("qv"),
        col("_nn"), col("_qn")))
      .select(col("qid"), col("nid"), col("sim"))
    val wQ = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    var beam = q.select(col("qid")).crossJoin(broadcast(entries))
    var beamPersisted: DataFrame = null
    (1 to steps).foreach { _ =>
      val expanded = beam.join(g, Seq("nid"))
        .select(col("qid"), col("_nbr").as("nid"))
      val cand = beam.select(col("qid"), col("nid"))
        .unionByName(expanded).distinct()
      // truncate per step: beam is referenced TWICE per round (union +
      // expansion), so an untruncated plan doubles per step — the same
      // shared-subtree rule the NN-descent rounds follow; the frame is
      // queries × beamWidth rows, so materializing it is free
      val next = Frames.truncate(score(cand)
        .withColumn("_r", row_number().over(wQ))
        .filter(col("_r") <= beamWidth)
        .select(col("qid"), col("nid")))
      // release the previous step's checkpoint blocks NOW (truncate is
      // eager, so `next` no longer needs them) — mirrors the NN-descent
      // round loop; without this every step's beam lingers until the
      // context cleaner gets around to it
      if (beamPersisted != null) Frames.release(beamPersisted)
      beamPersisted = next
      beam = next
    }
    val out = score(beam)
      .filter(col("nid") =!= col("qid"))
      .withColumn("rank", row_number().over(wQ))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("nid").as("neighbor_id"), round(col("sim"), 6).as("sim"))
      .transform(Frames.truncate)
    if (beamPersisted != null) Frames.release(beamPersisted)
    b.unpersist(false)
    out
  }
}
