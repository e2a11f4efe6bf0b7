package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the compression side of IVF-PQ ANN serving
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011): split each d-dim vector into `m` contiguous subvectors,
  * quantize each against its own k-codeword codebook, and store only the
  * m code bytes. A 64-dim float32 corpus compresses 64×4 → 4 bytes/vector
  * (vs 4× for int8), and queries score candidates with Asymmetric Distance
  * Computation (ADC): per query, precompute an m×k lookup table of
  * query-subvector↔codeword squared distances ONCE, then each candidate
  * costs m table lookups + m-1 adds — no per-pair vector arithmetic.
  *
  * Codebooks are trained DRIVER-LOCALLY on a stable sample (same policy and
  * rationale as [[Ivf.train]]: quantizer training needs a representative
  * sample, not the corpus; FAISS does the same). Everything downstream —
  * encode, ADC scoring, top-k — is fully distributed, with the codebooks
  * riding along as nested-array literals inside codegen'd expressions (the
  * same planes-as-literals trick `Similarity.rhpSignature` uses), so no
  * broadcast variable and no UDF anywhere.
  *
  * Two codebook modes:
  *   - `trainCodebooks(iters > 0)`: per-subspace Lloyd k-means (prod
  *     default — lower reconstruction error).
  *   - `anchorCodebooks` ≡ `trainCodebooks(iters = 0)`: codewords are the
  *     subvectors of the first k sample rows in stable-hash order. Fully
  *     SQL-recomputable (the md5-bucket order and the L2 argmin are both
  *     plain SQL), so the differential oracle can re-derive the SAME
  *     codebooks and codes in DuckDB, as `Dedup.Md5Hasher` does for
  *     the dedup kernels. Also the standard k-means init, so the
  *     two modes share all code paths.
  *
  * PQ quantizes L2 (Euclidean) structure, so ADC ranks by squared L2
  * distance; top-k output reports `sim = -dist²` to share the descending
  * contract of the other ANN paths. Exactness spec: with k ≥ distinct
  * subvectors and iters = 0 over the whole (small) corpus, encoding is
  * lossless and ADC ≡ exact L2 top-k (PqSpec pins this, the analogue of
  * IvfSpec's nprobe=K ≡ brute equivalence).
  */
object Pq {

  /** Codebooks as plain driver-side data: (subspace m)(codeword j)(dim). */
  type Codebooks = Array[Array[Array[Double]]]

  /** Per-subspace Lloyd k-means on a driver-local stable sample.
    *
    * Sampling policy is identical to [[Ivf.train]]: `samplePct` filters by
    * stable md5 bucket (pushes into the scan), the cap takes the first
    * `sampleCap` rows in (stable-hash, id) order — deterministic AND spread
    * across a time-ordered corpus. Seeds per subspace = the subvectors of
    * the first k capped rows (hash order); ties in the per-row argmin break
    * toward the lowest codeword index, empty clusters keep their previous
    * centroid (so a codebook always has exactly k entries).
    *
    * `iters = 0` returns the seeds themselves — see [[anchorCodebooks]]. */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                     m: Int, k: Int, iters: Int = 5,
                     samplePct: Int = 100, sampleCap: Int = 100000): Codebooks = {
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val rows = Sampling.stableCappedSample(base, col("id"), samplePct, sampleCap)
      .collect().map(_.getSeq[Double](1).toArray)
    kmeansSubspaces(rows, m, k, iters)
  }

  /** Per-subspace Lloyd k-means kernel over in-memory sample rows (the
    * driver-side half of [[trainCodebooks]]). */
  private def kmeansSubspaces(rows: Array[Array[Double]], m: Int, k: Int,
                              iters: Int): Codebooks = {
    require(rows.length >= k,
      s"Pq.trainCodebooks: sample has ${rows.length} rows < k=$k codewords")
    val dim = rows.head.length
    require(dim % m == 0, s"Pq.trainCodebooks: dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val off = s * dsub
      val subs = rows.map(r => java.util.Arrays.copyOfRange(r, off, off + dsub))
      var cents: Array[Array[Double]] = subs.take(k)
      for (_ <- 0 until iters) {
        val acc = Array.fill(k)(new Array[Double](dsub))
        val cnt = new Array[Long](k)
        subs.foreach { v =>
          // strict < scan ⇒ ties go to the lowest j, matching the
          // distributed encode's array_position-of-min and the oracle's
          // row_number ORDER BY dist, j
          var bestJ = 0; var bestD = Double.PositiveInfinity
          var j = 0
          while (j < k) {
            var d = 0.0; var i = 0
            while (i < dsub) {
              val t = v(i) - cents(j)(i); d += t * t; i += 1
            }
            if (d < bestD) { bestD = d; bestJ = j }
            j += 1
          }
          var i = 0
          while (i < dsub) { acc(bestJ)(i) += v(i); i += 1 }
          cnt(bestJ) += 1
        }
        cents = Array.tabulate(k)(j =>
          if (cnt(j) == 0) cents(j) else acc(j).map(_ / cnt(j)))
      }
      cents
    }
  }

  /** Deterministic, SQL-recomputable codebooks: the k-means seeds with zero
    * Lloyd iterations — codeword (s, j) is subvector s of the j-th sample
    * row in (stable-hash, id) order. The differential-oracle mode; prod
    * uses [[trainCodebooks]] with iters > 0. */
  def anchorCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                      m: Int, k: Int,
                      samplePct: Int = 100, sampleCap: Int = 100000): Codebooks =
    trainCodebooks(corpus, idCol, vecCol, m, k, iters = 0, samplePct, sampleCap)

  private def cbLit(cb: Codebooks, s: Int): Column =
    typedLit(cb(s).map(_.toSeq).toSeq)

  /** Squared-L2 fold between a subvector column and one codeword column —
    * shared by encode and the ADC LUT so the arithmetic (sequential
    * left-fold in element order) is identical everywhere, including the
    * SQL oracle's `list_sum(list_transform(...))` twin. */
  private def dist2(sub: Column, cw: Column): Column =
    aggregate(zip_with(sub, cw, (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, d) => a + d)

  /** Append an m-entry `array<int>` code column: per subspace, the 0-based
    * index of the L2-nearest codeword (ties → lowest index). One pass, no
    * shuffle — a storage transform like `Similarity.quantizeInt8`, with the
    * codebooks inlined as literals. Subvectors are projected to real
    * columns first so the per-codeword lambda re-reads an attribute, not a
    * re-evaluated `slice` (the HOF re-evaluation trap). */
  def withCodes(df: DataFrame, vecCol: String, cb: Codebooks,
                as: String = "codes"): DataFrame = {
    val m = cb.length
    val dsub = cb(0)(0).length
    val v = col(vecCol).cast("array<double>")
    val subs = (0 until m).map(s => slice(v, s * dsub + 1, dsub).as(s"__sub$s"))
    val codes = (0 until m).map { s =>
      val dists = transform(cbLit(cb, s), cw => dist2(col(s"__sub$s"), cw))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    df.select(df.columns.toSeq.map(col) ++ subs: _*)
      .withColumn(as, array(codes: _*))
      .drop((0 until m).map(s => s"__sub$s"): _*)
  }

  /** (queryId, __lut) — each query row's m×k LUT of squared subvector↔
    * codeword distances, computed ONCE as a projection on the (small)
    * query frame. */
  private def lutFrame(queries: DataFrame, queryId: String, queryVec: String,
                       cb: Codebooks): DataFrame = {
    val m = cb.length
    val dsub = cb(0)(0).length
    val v = col(queryVec).cast("array<double>")
    val qsubs = (0 until m).map(s => slice(v, s * dsub + 1, dsub).as(s"__qsub$s"))
    val lut = array((0 until m).map { s =>
      transform(cbLit(cb, s), cw => dist2(col(s"__qsub$s"), cw))
    }: _*)
    queries.select(queries.columns.toSeq.map(col) ++ qsubs: _*)
      .withColumn("__lut", lut)
      .select(col(queryId), col("__lut"))
  }

  /** ADC similarity of a coded candidate against a `__lut` column:
    * `-Σ_s lut[s][code_s]` — m lookups folded in subspace order. */
  private def adcSim(codeCol: String): Column =
    -aggregate(
      zip_with(col("__lut"), col(codeCol), (l, c) => element_at(l, c + 1)),
      lit(0.0), (a, d) => a + d)

  /** ADC top-k: full-precision queries against a coded corpus.
    *
    * Scale shape: each query row precomputes its m×k LUT ONCE (a projection
    * on the small query frame), the query set is broadcast, and the corpus
    * — carrying only id + m small ints per row — is scanned once; per
    * candidate the distance is m `element_at` lookups folded in subspace
    * order. Top-k goes through the two-stage salted reducer
    * (`Similarity.topKPerQuery`); `salts = 1` skips stage 1 when the
    * candidate set per query is known reducer-sized.
    *
    * Output matches the other ANN paths: (query_id, rank, neighbor_id,
    * sim) with `sim = -dist²` (ADC ranks ascending squared L2). */
  def adcTopK(corpusCodes: DataFrame, corpusId: String, codeCol: String,
              queries: DataFrame, queryId: String, queryVec: String,
              cb: Codebooks, k: Int, salts: Int = 64): DataFrame = {
    val scored = corpusCodes
      .join(broadcast(lutFrame(queries, queryId, queryVec, cb)))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim", adcSim(codeCol))
    Similarity.topKPerQuery(scored, queryId, corpusId, k, salts)
  }

  /** Two-stage retrieval: ADC shortlist → exact re-rank — the standard
    * serving recipe for compressed indexes (quantization error decides the
    * shortlist, never the final order). Stage 1 scans only codes; stage 2
    * reads full vectors for `shortlist` candidates PER QUERY (a
    * |queries|·shortlist-row broadcast join against the corpus — a
    * k'-row read, not a corpus read). Final order is exact COSINE, the
    * contract every other ANN path shares; `shortlist ≥ corpus` makes the
    * result identical to `Similarity.bruteForceTopK`. */
  def rerankTopK(corpusCodes: DataFrame, corpusId: String, codeCol: String,
                 corpus: DataFrame, corpusVec: String,
                 queries: DataFrame, queryId: String, queryVec: String,
                 cb: Codebooks, k: Int, shortlist: Int,
                 salts: Int = 64): DataFrame = {
    val short = adcTopK(corpusCodes, corpusId, codeCol,
        queries, queryId, queryVec, cb, shortlist, salts)
      .select(col("query_id").as(queryId), col("neighbor_id").as(corpusId))
    val c = corpus.withColumn("_cn", Similarity.norm(col(corpusVec)))
    val q = queries.withColumn("_qn", Similarity.norm(col(queryVec)))
    val scored = c.join(broadcast(short), Seq(corpusId))
      .join(broadcast(q.select(col(queryId), col(queryVec), col("_qn"))),
        Seq(queryId))
      .withColumn("sim", Similarity.cosinePrenormed(col(corpusVec),
        col(queryVec), col("_cn"), col("_qn")))
    // ≤ shortlist candidates per query by construction — stage 1 skipped
    Similarity.topKPerQuery(scored, queryId, corpusId, k, salts = 1)
  }
}
