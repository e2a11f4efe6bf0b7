package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions._
import Shared._

/** Vector search and embedding analytics: `ann_`, `embedding_`, `pq_`,
  * `bitext_`. */
object AnnQueries {

  private val mmrLam = 0.7                        // ann_mmr_topk
  private val annNprobes = Seq(1, 2, 4, 8)        // ann_nprobe_curve
  // internal NN-descent frontier width (the paper's build K) and init
  // window: on the near-random synthetic embeddings a k=5 frontier
  // saturates at recall ≈ 0.25 regardless of rounds; buildK=20 with a
  // degree-32 init reaches 0.85 in 2 rounds (measured, round 11) —
  // shared by all three ann_graph_* queries and their oracles
  private val annGraphBuildK = 20
  private val annGraphInitWindow = 8
  private val outlierTopK = 20                    // embedding_outliers
  private val pcaRounds = 3                       // embedding_pca
  private val noiseProbeMod = 17L                 // embedding_label_noise
  private val annFilterLabel = 3                  // ann_filtered_topk
  private val kmeansK = 4                         // embedding_kmeans
  private val kmeansRounds = 2

  /** DuckDB recomputation of the Achlioptas random projection
    * (Similarity.rpComponents): per output dim, an explicit left-
    * associated `+` chain of the NONZERO v[i]*m terms in ascending-i
    * order. Bit-identical to the engine's sequential `graft_dot` fold —
    * adding a zero product never perturbs a double accumulator, so
    * skipping the ~2/3 zero entries is exact, not approximate. */
  private def rpSqlProj(v: String, outDims: Int, dim: Int): String =
    Similarity.rpComponents(outDims, dim).map { comps =>
      val terms = comps.zipWithIndex.collect {
        case (m, i) if m != 0.0 => s"($v[${i + 1}]::DOUBLE * $m)"
      }
      if (terms.isEmpty) "0.0" else terms.mkString(" + ")
    }.mkString("[", ", ", "]")

  /** DuckDB recomputation of the PQ anchor codebooks and per-vector codes —
    * mirrors `Pq.anchorCodebooks` + `Pq.withCodes` exactly: same
    * (md5-bucket, id) anchor order, same sequential squared-L2 fold
    * (`list_sum` of an index-ordered `list_transform`), same lowest-j tie
    * break (`row_number ... ORDER BY d2, j`). Yields CTEs `cw` (subspace m,
    * codeword j, anchor vector) and `codes` (vec_id, m, j). */
  private def pqSqlCtes(m: Int, k: Int, dsub: Int): String =
    "anc AS (SELECT row_number() OVER (ORDER BY b, vec_id) - 1 AS j, av FROM " +
      "(SELECT ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 1073741824 AS b, " +
      s"vec_id, embedding AS av FROM embeddings ORDER BY b, vec_id LIMIT $k) t1), " +
      s"cw AS (SELECT r.m, a.j, a.av FROM anc a, range(0, $m) r(m)), " +
      s"cd AS (SELECT e.vec_id, c.m, c.j, list_sum(list_transform(range(1, ${dsub + 1}), i -> " +
      s"(e.embedding[c.m*$dsub+i]::DOUBLE - c.av[c.m*$dsub+i]::DOUBLE) * " +
      s"(e.embedding[c.m*$dsub+i]::DOUBLE - c.av[c.m*$dsub+i]::DOUBLE))) AS d2 " +
      "FROM embeddings e, cw c), " +
      "best AS (SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn FROM cd), " +
      "codes AS (SELECT vec_id, m, j FROM best WHERE rn = 1)"

  /** Mirror of `Similarity.mmrRerank(k = 3, lam = 0.7)` over the
    * brute-force top-10 shortlist (queries vec_id < 3): the same 3 greedy
    * rounds unrolled as CTEs. The (1−λ) factor is interpolated as the
    * EXACT IEEE complement (`1.0 - 0.7` in binary, not decimal 0.3) and
    * cast ::DOUBLE so both engines run identical arithmetic. */
  private def mmrOracleSql: String = {
    val lam = s"$mmrLam::DOUBLE"
    val oml = s"${1.0 - mmrLam}::DOUBLE"
    def cos(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)) / " +
        s"(sqrt(list_sum(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $a[i]::DOUBLE))) * " +
        s"sqrt(list_sum(list_transform(range(1, 65), i -> $b[i]::DOUBLE * $b[i]::DOUBLE))))"
    s"WITH vq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3), " +
      s"sc0 AS (SELECT vq.qid, e.vec_id AS nid, ${cos("e.embedding", "vq.qv")} AS sim " +
      "FROM embeddings e, vq WHERE e.vec_id <> vq.qid), " +
      "cand AS (SELECT qid, nid, round(sim, 6) AS rel FROM (SELECT *, " +
      "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc0) WHERE rn <= 10), " +
      "cv AS (SELECT cand.qid, cand.nid, cand.rel, e.embedding AS v " +
      "FROM cand JOIN embeddings e ON cand.nid = e.vec_id), " +
      s"ps AS (SELECT a.qid, a.nid AS ia, b.nid AS ib, ${cos("a.v", "b.v")} AS sim " +
      "FROM cv a JOIN cv b ON a.qid = b.qid AND a.nid <> b.nid), " +
      s"r1 AS (SELECT qid, nid, score FROM (SELECT qid, nid, $lam * rel AS score, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY $lam * rel DESC, nid) AS rn FROM cv) WHERE rn = 1), " +
      s"sc2 AS (SELECT c.qid, c.nid, $lam * c.rel - $oml * coalesce(p1.sim, 0) AS score " +
      "FROM cv c JOIN r1 ON c.qid = r1.qid AND c.nid <> r1.nid " +
      "LEFT JOIN ps p1 ON p1.qid = c.qid AND p1.ia = c.nid AND p1.ib = r1.nid), " +
      "r2 AS (SELECT qid, nid, score FROM (SELECT *, row_number() OVER (PARTITION BY qid " +
      "ORDER BY score DESC, nid) AS rn FROM sc2) WHERE rn = 1), " +
      s"sc3 AS (SELECT c.qid, c.nid, $lam * c.rel - $oml * greatest(coalesce(p1.sim, 0), coalesce(p2.sim, 0)) AS score " +
      "FROM cv c JOIN r1 ON c.qid = r1.qid AND c.nid <> r1.nid " +
      "JOIN r2 ON c.qid = r2.qid AND c.nid <> r2.nid " +
      "LEFT JOIN ps p1 ON p1.qid = c.qid AND p1.ia = c.nid AND p1.ib = r1.nid " +
      "LEFT JOIN ps p2 ON p2.qid = c.qid AND p2.ia = c.nid AND p2.ib = r2.nid), " +
      "r3 AS (SELECT qid, nid, score FROM (SELECT *, row_number() OVER (PARTITION BY qid " +
      "ORDER BY score DESC, nid) AS rn FROM sc3) WHERE rn = 1) " +
      "SELECT qid AS query_id, CAST(1 AS INTEGER) AS rank, nid AS doc_id, " +
      "CAST(floor(score * 1000000) AS BIGINT) AS score_e6 FROM r1 " +
      "UNION ALL SELECT qid, 2, nid, CAST(floor(score * 1000000) AS BIGINT) FROM r2 " +
      "UNION ALL SELECT qid, 3, nid, CAST(floor(score * 1000000) AS BIGINT) FROM r3"
  }

  /** Exact cosine top-5 for queries vec_id < 8 — shared by ann_brute_topk
    * and the recall report's exact side. */
  private def annBruteOracleSql: String =
    "WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
      "scored AS (SELECT q.qid, e.vec_id AS nid, " +
      "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / " +
      "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
      "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
      "FROM embeddings e, q WHERE e.vec_id <> q.qid) " +
      "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored) " +
      "WHERE rn <= 5"

  /** The anchor-mode IVF pipeline (centroids = 16 lowest-id vectors,
    * cosine assignment, `nprobe` probed cells, top-5) as one nestable
    * SQL text — shared by ann_ivf_topk (nprobe = 4) and every leg of
    * ann_nprobe_curve. */
  private def ivfAnchorOracleSql(nprobe: Int): String =
    "WITH cent AS (SELECT vec_id AS cid, embedding AS cvec, " +
      "sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS cnorm " +
      "FROM embeddings ORDER BY vec_id LIMIT 16), " +
      "n AS (SELECT vec_id, embedding, " +
      "sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nn FROM embeddings), " +
      "asg AS (SELECT vec_id, cell FROM (SELECT e.vec_id, c.cid AS cell, " +
      "row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE)) / (e.nn * c.cnorm) DESC, c.cid) AS rn " +
      "FROM n e CROSS JOIN cent c) WHERE rn = 1), " +
      "probes AS (SELECT qid, cell FROM (SELECT q.vec_id AS qid, c.cid AS cell, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE)) / (q.nn * c.cnorm) DESC, c.cid) AS rn " +
      s"FROM n q CROSS JOIN cent c WHERE q.vec_id < 8) WHERE rn <= $nprobe), " +
      "sc AS (SELECT p.qid, e.vec_id AS nid, " +
      "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)) / (e.nn * q.nn) AS sim " +
      "FROM probes p JOIN asg a ON a.cell = p.cell JOIN n e ON e.vec_id = a.vec_id " +
      "JOIN n q ON q.vec_id = p.qid WHERE e.vec_id <> p.qid) " +
      "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc) WHERE rn <= 5"

  /** Mirror of `Similarity.labelNoiseReport` over the `% $noiseProbeMod`
    * probe sample: the same brute-force cosine kNN CTE shape as
    * [[annBruteOracleSql]], then strict-majority label agreement. */
  private def labelNoiseOracleSql: String =
    s"WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql " +
      s"FROM embeddings WHERE vec_id % $noiseProbeMod = 0), " +
      "scored AS (SELECT q.qid, q.ql, e.vec_id AS nid, " +
      "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / " +
      "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
      "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
      "FROM embeddings e, q WHERE e.vec_id <> q.qid), " +
      "nn AS (SELECT qid, ql, nid FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored) WHERE rn <= 5), " +
      "lab AS (SELECT nn.qid, nn.ql, e.label AS nl FROM nn " +
      "JOIN embeddings e ON e.vec_id = nn.nid), " +
      "per AS (SELECT qid, ql, count(CASE WHEN nl = ql THEN 1 END) AS n_same, " +
      "count(*) AS n_nbrs FROM lab GROUP BY 1, 2) " +
      "SELECT ql AS label, count(*) AS n_probes, " +
      "count(CASE WHEN 2 * n_same > n_nbrs THEN 1 END) AS n_clean, " +
      "((count(*) - count(CASE WHEN 2 * n_same > n_nbrs THEN 1 END)) * 1000000) // count(*) AS noise_ppm " +
      "FROM per GROUP BY ql"

  /** Mirror of `Similarity.lshTopK(k = 5, bits = 8, dim = 64)` over
    * queries vec_id < 8: recompute buckets, probe the signature and its 8
    * Hamming-1 neighbors, score in-bucket pairs, global top-5 per query. */
  private def annLshOracleSql: String = {
    val (planeCols, bucketExpr) = rhpSqlParts(8, 64)
    val probeList = "[sig" + (0 until 8).map(b => s", xor(sig, ${1L << b})")
      .mkString + "]"
    s"WITH pl AS (SELECT $planeCols), " +
      "v0 AS (SELECT vec_id AS id, embedding AS v FROM embeddings), " +
      s"b AS (SELECT id, v, $bucketExpr AS bucket, " +
      "sqrt(list_sum(list_transform(range(1, 65), d -> v[d]::DOUBLE * v[d]::DOUBLE))) AS n " +
      "FROM v0, pl), " +
      "q AS (SELECT id AS qid, v AS qv, n AS qn, bucket AS sig FROM b WHERE id < 8), " +
      s"probes AS (SELECT qid, qv, qn, unnest($probeList) AS bucket FROM q), " +
      "s AS (SELECT p.qid, c.id AS nid, " +
      "list_sum(list_transform(range(1, 65), d -> c.v[d]::DOUBLE * p.qv[d]::DOUBLE)) / (c.n * p.qn) AS sim " +
      "FROM b c JOIN probes p ON c.bucket = p.bucket AND c.id <> p.qid) " +
      "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, " +
      "round(sim, 6) AS sim " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY qid " +
      "ORDER BY sim DESC, nid) AS rn FROM s) WHERE rn <= 5"
  }

  /** DuckDB twin of the bitext recall report: the bucketed miner (same
    * machinery as [[bitextMineOracleSql]], query side restricted to the
    * id % 8 probe sample) versus the capless exact margin criterion over
    * every odd-side candidate, compared on pair identity. */
  private def bitextRecallOracleSql: String = {
    val (planeCols, bucketExpr) = rhpSqlParts(8, 64)
    val probeList = "[sig" + (0 until 8).map(b => s", xor(sig, ${1L << b})")
      .mkString + "]"
    val dot = "list_sum(list_transform(range(1, 65), " +
      "d -> c.v[d]::DOUBLE * p.qv[d]::DOUBLE)) / (c.n * p.qn)"
    def top2(src: String, out: String): String =
      s"${out}r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM $src), " +
        s"${out}t AS (SELECT qid, max(CASE WHEN rn = 1 THEN nid END) AS dst_id, " +
        s"max(CASE WHEN rn = 1 THEN sim END) AS s1, " +
        s"max(CASE WHEN rn = 2 THEN sim END) AS s2 FROM ${out}r WHERE rn <= 2 GROUP BY qid), " +
        s"$out AS (SELECT qid AS src_id, dst_id FROM ${out}t " +
        "WHERE s2 IS NOT NULL AND floor((s1 - s2) * 1000000) >= 20000), "
    s"WITH pl AS (SELECT $planeCols), " +
      "v0 AS (SELECT vec_id AS id, embedding AS v FROM embeddings), " +
      s"b AS (SELECT id, v, $bucketExpr AS bucket, " +
      "sqrt(list_sum(list_transform(range(1, 65), d -> v[d]::DOUBLE * v[d]::DOUBLE))) AS n " +
      "FROM v0, pl), " +
      "q AS (SELECT id AS qid, v AS qv, n AS qn, bucket AS sig FROM b WHERE id % 8 = 0 " +
      s"ORDER BY $sqlStableBucket30, id LIMIT 512), " +
      "cc AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY bucket " +
      s"ORDER BY $sqlStableBucket30, id) AS cr FROM b WHERE id % 2 = 1) WHERE cr <= 1024), " +
      s"probes AS (SELECT qid, qv, qn, unnest($probeList) AS bucket FROM q), " +
      s"ms AS (SELECT p.qid, c.id AS nid, $dot AS sim " +
      "FROM cc c JOIN probes p ON c.bucket = p.bucket), " +
      top2("ms", "m") +
      s"es AS (SELECT p.qid, c.id AS nid, $dot AS sim " +
      "FROM b c JOIN q p ON c.id % 2 = 1), " +
      top2("es", "ex") +
      "fj AS (SELECT ex.src_id AS e_src, m.src_id AS m_src, ex.dst_id AS e_dst, m.dst_id AS m_dst " +
      "FROM ex FULL OUTER JOIN m ON ex.src_id = m.src_id AND ex.dst_id = m.dst_id) " +
      "SELECT CAST(count(e_src) AS BIGINT) AS n_exact, " +
      "CAST(count(m_src) AS BIGINT) AS n_mined, " +
      "CAST(count(CASE WHEN e_src IS NOT NULL AND m_src IS NOT NULL THEN 1 END) AS BIGINT) AS n_hit, " +
      "CAST(CASE WHEN count(m_src) = 0 THEN 0 ELSE " +
      "(count(CASE WHEN e_src IS NOT NULL AND m_src IS NOT NULL THEN 1 END) * 1000000) // count(m_src) END AS BIGINT) AS precision_ppm, " +
      "CAST(CASE WHEN count(e_src) = 0 THEN 0 ELSE " +
      "(count(CASE WHEN e_src IS NOT NULL AND m_src IS NOT NULL THEN 1 END) * 1000000) // count(e_src) END AS BIGINT) AS recall_ppm " +
      "FROM fj"
  }

  /** DuckDB unroll of `Similarity.nnDescentGraph` (k=5, rounds=2,
    * bits=4, dim=64, initWindow=[[annGraphInitWindow]],
    * buildK=[[annGraphBuildK]]): same
    * md5-ordered bucket init, same md5-capped reverse edges, same
    * neighbor-of-neighbor expansion, internal top-buildK cuts with the
    * final cut to k — the PageRank fixed-rounds oracle pattern applied
    * to a graph build. */
  /** The shared CTE chain ending at gf (the refined graph, cut to k=5
    * with ranks) — prefix for both the graph probe oracle and the
    * beam-search oracle. */
  private def annGraphCtes: String = {
    val (planeCols, bucketExpr) = rhpSqlParts(4, 64)
    val (planeCols2, bucket2Expr) = rhpSqlParts(4, 64, table = 1, pfx = "q")
    val bk = annGraphBuildK
    val simExpr = "list_sum(list_transform(range(1, 65), " +
      "d -> x.v[d]::DOUBLE * y.v[d]::DOUBLE)) / (x.n * y.n)"
    def roundCtes(r: Int): String = {
      val prev = s"g${r - 1}"
      s"rev$r AS (SELECT node, nbr FROM (SELECT g.nbr AS node, g.node AS nbr, " +
        s"row_number() OVER (PARTITION BY g.nbr ORDER BY ${sqlMd5Long("g.node::VARCHAR")}, g.node) AS rr FROM $prev g) WHERE rr <= $bk), " +
        s"rel$r AS (SELECT DISTINCT node, nbr FROM (SELECT node, nbr FROM $prev UNION ALL SELECT node, nbr FROM rev$r)), " +
        s"non$r AS (SELECT r1.node, r2.nbr FROM rel$r r1 JOIN rel$r r2 ON r1.nbr = r2.node WHERE r1.node <> r2.nbr), " +
        s"cand$r AS (SELECT DISTINCT node, nbr FROM (SELECT node, nbr FROM non$r UNION ALL SELECT node, nbr FROM $prev)), " +
        s"sc$r AS (SELECT c.node, c.nbr, $simExpr AS sim FROM cand$r c JOIN b x ON x.id = c.node JOIN b y ON y.id = c.nbr), " +
        s"g$r AS (SELECT node, nbr, sim FROM (SELECT *, row_number() OVER (PARTITION BY node ORDER BY sim DESC, nbr) AS rn FROM sc$r) WHERE rn <= $bk)"
    }
    s"pl AS (SELECT $planeCols), pl2 AS (SELECT $planeCols2), " +
      "v0 AS (SELECT vec_id AS id, embedding AS v FROM embeddings), " +
      s"b AS (SELECT id, v, $bucketExpr AS bucket, $bucket2Expr AS bucket2, " +
      "sqrt(list_sum(list_transform(range(1, 65), d -> v[d]::DOUBLE * v[d]::DOUBLE))) AS n " +
      "FROM v0, pl, pl2), " +
      s"ordd AS (SELECT bucket, id, row_number() OVER (PARTITION BY bucket ORDER BY ${sqlMd5Long("id::VARCHAR")}, id) AS rn FROM b), " +
      s"ordd2 AS (SELECT bucket2, id, row_number() OVER (PARTITION BY bucket2 ORDER BY ${sqlMd5Long("id::VARCHAR")}, id) AS rn FROM b), " +
      s"fwd AS (SELECT a.id AS node, c.id AS nbr FROM ordd a JOIN ordd c ON a.bucket = c.bucket AND c.rn - a.rn BETWEEN 1 AND $annGraphInitWindow " +
      s"UNION ALL SELECT a.id AS node, c.id AS nbr FROM ordd2 a JOIN ordd2 c ON a.bucket2 = c.bucket2 AND c.rn - a.rn BETWEEN 1 AND $annGraphInitWindow), " +
      "cand0 AS (SELECT DISTINCT node, nbr FROM (SELECT node, nbr FROM fwd UNION ALL SELECT nbr AS node, node AS nbr FROM fwd)), " +
      s"sc0 AS (SELECT c.node, c.nbr, $simExpr AS sim FROM cand0 c JOIN b x ON x.id = c.node JOIN b y ON y.id = c.nbr), " +
      s"g0 AS (SELECT node, nbr, sim FROM (SELECT *, row_number() OVER (PARTITION BY node ORDER BY sim DESC, nbr) AS rn FROM sc0) WHERE rn <= $bk), " +
      roundCtes(1) + ", " + roundCtes(2) + ", " +
      "gf AS (SELECT node, nbr, sim, rn FROM (SELECT *, row_number() OVER (PARTITION BY node ORDER BY sim DESC, nbr) AS rn FROM g2) WHERE rn <= 5)"
  }

  /** DuckDB unroll of `Similarity.knnShapleyValues` (k=5, qq = 10⁻¹²
    * quantization): same (sim DESC, nid) rank order, same pmod-floored
    * per-term integers, same suffix sums (order-free over integers).
    * Yields CTE `sv(qid, nid, label, value_qq)`. */
  private def knnShapleyCtes: String = {
    val nrm = "sqrt(list_sum(list_transform(range(1, 65), " +
      "d -> embedding[d]::DOUBLE * embedding[d]::DOUBLE)))"
    val sim = "list_sum(list_transform(range(1, 65), " +
      "d -> c.v[d]::DOUBLE * q.qv[d]::DOUBLE)) / (c.n * q.qn)"
    val a = "((m - mn)::HUGEINT * least(rnk, 5) * 1000000000000)"
    val b = "((5 * rnk)::HUGEINT)"
    val floorDiv = s"(($a - ((($a % $b) + $b) % $b)) // $b)"
    s"c AS (SELECT vec_id AS nid, embedding AS v, label, $nrm AS n FROM embeddings), " +
      s"q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql, $nrm AS qn FROM embeddings WHERE vec_id < 8), " +
      s"sc AS (SELECT q.qid, c.nid, c.label, q.ql, $sim AS sim FROM c, q WHERE c.nid <> q.qid), " +
      "rk AS (SELECT qid, nid, label, CASE WHEN label = ql THEN 1 ELSE 0 END AS m, " +
      "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk, " +
      "count(*) OVER (PARTITION BY qid) AS nn, " +
      "lead(CASE WHEN label = ql THEN 1 ELSE 0 END) OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS mn FROM sc), " +
      s"tm AS (SELECT qid, nid, label, rnk, CASE WHEN mn IS NULL THEN (m::HUGEINT * 1000000000000) // nn ELSE $floorDiv END AS t FROM rk), " +
      "sv AS (SELECT qid, nid, label, CAST(sum(t) OVER (PARTITION BY qid ORDER BY rnk ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS value_qq FROM tm)"
  }

  private def annGraphOracleSql: String =
    s"WITH $annGraphCtes " +
      "SELECT node AS query_id, CAST(rn AS INTEGER) AS rank, nbr AS neighbor_id, round(sim, 6) AS sim " +
      "FROM gf WHERE node < 8"

  /** DuckDB unroll of `Similarity.deleteFromGraph` on top of
    * [[annGraphCtes]]: the PUBLISHED graph (rounded sims, rank ≤ 5)
    * loses nodes {3, 5}; survivors that lost a neighbor re-enter as
    * inserts — rebuild-identical window links gated on an insert
    * endpoint, ball splice (in-ball edges rescored unrounded beside the
    * fresh candidates, rank = row_number ≤ buildK), then 2 refinement
    * rounds whose first hop is restricted to the one-hop-grown ball —
    * exactly `appendToGraph`'s plumbing. Out-of-ball rows carry sim AND
    * rank verbatim at every stage. */
  /** Force every CTE in `sql` to `AS MATERIALIZED`: DuckDB inlines CTEs
    * per reference, and a chain whose stages are each referenced 3–5×
    * (the delete unroll's xdg/xrl/xtc) re-expands the whole upstream
    * build per reference — combinatorial work AND one parquet open per
    * expansion ("Too many open files" before it even gets slow).
    * Materialization restores the replay to its Spark cost shape
    * (measured: non-terminating → 2.4 s at sf0.01). Safe here because
    * in these generated oracles `name AS (` occurs ONLY at CTE
    * definitions — derived tables are written `FROM (...)` and column
    * aliases are parenthesis-free. */
  private def materializeCtes(sql: String): String =
    sql.replaceAll("\\b([A-Za-z_][A-Za-z_0-9]*) AS \\(",
      "$1 AS MATERIALIZED (")

  private def annGraphDeleteOracleSql: String = {
    val bk = annGraphBuildK
    val iw = annGraphInitWindow
    val simExpr = "list_sum(list_transform(range(1, 65), " +
      "d -> x.v[d]::DOUBLE * y.v[d]::DOUBLE)) / (x.n * y.n)"
    // one refinement round over the spliced graph xdg{r-1} with ball
    // xaf{r-1}: grow the ball one hop both directions, md5-capped
    // reverse edges, neighbor-of-neighbor from ball nodes only, splice
    def xround(r: Int): String = {
      val p = s"xdg${r - 1}"
      val pa = s"xaf${r - 1}"
      s"xtc$r AS (SELECT DISTINCT node FROM (" +
        s"SELECT g.nbr AS node FROM $p g WHERE g.node IN (SELECT node FROM $pa) " +
        s"UNION ALL SELECT g.node FROM $p g WHERE g.nbr IN (SELECT node FROM $pa) " +
        s"UNION ALL SELECT node FROM $pa)), " +
        s"xrv$r AS (SELECT node, nbr FROM (SELECT g.nbr AS node, g.node AS nbr, " +
        s"row_number() OVER (PARTITION BY g.nbr ORDER BY ${sqlMd5Long("g.node::VARCHAR")}, g.node) AS rr FROM $p g) WHERE rr <= $bk), " +
        s"xrl$r AS (SELECT DISTINCT node, nbr FROM (SELECT node, nbr FROM $p UNION ALL SELECT node, nbr FROM xrv$r)), " +
        s"xnn$r AS (SELECT r1.node, r2.nbr FROM xrl$r r1 JOIN xrl$r r2 ON r1.nbr = r2.node " +
        s"WHERE r1.node IN (SELECT node FROM xtc$r) AND r1.node <> r2.nbr), " +
        s"xib$r AS (SELECT node, nbr FROM $p WHERE node IN (SELECT node FROM xtc$r)), " +
        s"xob$r AS (SELECT node, nbr, sim, rank FROM $p WHERE node NOT IN (SELECT node FROM xtc$r)), " +
        s"xcd$r AS (SELECT DISTINCT node, nbr FROM (SELECT node, nbr FROM xnn$r UNION ALL SELECT node, nbr FROM xib$r)), " +
        s"xss$r AS (SELECT c.node, c.nbr, $simExpr AS sim FROM xcd$r c JOIN xrb x ON x.id = c.node JOIN xrb y ON y.id = c.nbr), " +
        s"xdg$r AS (SELECT node, nbr, sim, rank FROM (SELECT *, row_number() OVER (PARTITION BY node ORDER BY sim DESC, nbr) AS rank FROM xss$r) WHERE rank <= $bk " +
        s"UNION ALL SELECT node, nbr, sim, rank FROM xob$r), " +
        s"xaf$r AS (SELECT node FROM xtc$r)"
    }
    materializeCtes(s"WITH $annGraphCtes, " +
      // published graph → prune deleted nodes; survivors that lost a
      // neighbor drop their rows entirely (they re-enter as inserts)
      "xgp AS (SELECT node, nbr, round(sim, 6) AS sim, rn AS rank FROM gf), " +
      "xdel AS (SELECT id FROM b WHERE id IN (3, 5)), " +
      "xgs AS (SELECT * FROM xgp WHERE node NOT IN (SELECT id FROM xdel)), " +
      "xaff AS (SELECT DISTINCT node FROM xgs WHERE nbr IN (SELECT id FROM xdel)), " +
      "xgr AS (SELECT * FROM xgs WHERE node NOT IN (SELECT node FROM xaff)), " +
      // remaining corpus, insert flag on the affected survivors
      "xrb AS (SELECT b.*, (b.id IN (SELECT node FROM xaff)) AS isnew " +
      "FROM b WHERE b.id NOT IN (SELECT id FROM xdel)), " +
      // rebuild-identical init links, kept only where an insert is touched
      s"xo1 AS (SELECT bucket, id, isnew, row_number() OVER (PARTITION BY bucket ORDER BY ${sqlMd5Long("id::VARCHAR")}, id) AS rn FROM xrb), " +
      s"xo2 AS (SELECT bucket2, id, isnew, row_number() OVER (PARTITION BY bucket2 ORDER BY ${sqlMd5Long("id::VARCHAR")}, id) AS rn FROM xrb), " +
      s"xfw AS (SELECT a.id AS node, c.id AS nbr FROM xo1 a JOIN xo1 c ON a.bucket = c.bucket AND c.rn - a.rn BETWEEN 1 AND $iw AND (a.isnew OR c.isnew) " +
      s"UNION ALL SELECT a.id AS node, c.id AS nbr FROM xo2 a JOIN xo2 c ON a.bucket2 = c.bucket2 AND c.rn - a.rn BETWEEN 1 AND $iw AND (a.isnew OR c.isnew)), " +
      "xsd AS (SELECT DISTINCT node, nbr FROM (SELECT node, nbr FROM xfw UNION ALL SELECT nbr AS node, node AS nbr FROM xfw)), " +
      "xaf0 AS (SELECT DISTINCT node FROM xsd), " +
      // splice 0: in-ball edges rescored beside the seed, out-ball verbatim
      "xib0 AS (SELECT node, nbr FROM xgr WHERE node IN (SELECT node FROM xaf0)), " +
      "xob0 AS (SELECT node, nbr, sim, rank FROM xgr WHERE node NOT IN (SELECT node FROM xaf0)), " +
      "xcd0 AS (SELECT DISTINCT node, nbr FROM (SELECT node, nbr FROM xsd UNION ALL SELECT node, nbr FROM xib0)), " +
      s"xss0 AS (SELECT c.node, c.nbr, $simExpr AS sim FROM xcd0 c JOIN xrb x ON x.id = c.node JOIN xrb y ON y.id = c.nbr), " +
      s"xdg0 AS (SELECT node, nbr, sim, rank FROM (SELECT *, row_number() OVER (PARTITION BY node ORDER BY sim DESC, nbr) AS rank FROM xss0) WHERE rank <= $bk " +
      "UNION ALL SELECT node, nbr, sim, rank FROM xob0), " +
      xround(1) + ", " + xround(2) + " " +
      "SELECT node AS query_id, CAST(rank AS INTEGER) AS rank, nbr AS neighbor_id, round(sim, 6) AS sim " +
      "FROM xdg2 WHERE rank <= 5 AND node < 12")
  }

  /** Beam-search unroll on top of [[annGraphCtes]]: same entry set
    * (md5-min id per occupied LSH bucket), 3 expand→score→top-8 rounds,
    * final top-5 — byte-identical semantics to
    * `Similarity.graphBeamSearch`. */
  private def annGraphSearchOracleSql: String = {
    val sim = "list_sum(list_transform(range(1, 65), " +
      "d -> x.v[d]::DOUBLE * qq.qv[d]::DOUBLE)) / (x.n * qq.qn)"
    def step(i: Int): String =
      s"ex$i AS (SELECT bm.qid, g.nbr AS nid FROM bm${i - 1} bm JOIN gf g ON g.node = bm.nid), " +
        s"cd$i AS (SELECT DISTINCT qid, nid FROM (SELECT qid, nid FROM bm${i - 1} UNION ALL SELECT qid, nid FROM ex$i)), " +
        s"ss$i AS (SELECT c.qid, c.nid, $sim AS sim FROM cd$i c JOIN b x ON x.id = c.nid JOIN qq ON qq.qid = c.qid), " +
        s"bm$i AS (SELECT qid, nid FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM ss$i) WHERE rn <= 8)"
    s"WITH $annGraphCtes, " +
      s"ent AS (SELECT id AS nid FROM (SELECT id, row_number() OVER " +
      s"(PARTITION BY bucket ORDER BY ${sqlMd5Long("id::VARCHAR")}, id) AS er FROM b) WHERE er = 1), " +
      "qq AS (SELECT id AS qid, v AS qv, n AS qn FROM b WHERE id < 8), " +
      "bm0 AS (SELECT qid, nid FROM qq, ent), " +
      step(1) + ", " + step(2) + ", " + step(3) + ", " +
      s"fin AS (SELECT c.qid, c.nid, $sim AS sim FROM bm3 c JOIN b x ON x.id = c.nid JOIN qq ON qq.qid = c.qid WHERE c.nid <> c.qid) " +
      "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM fin) WHERE rn <= 5"
  }

  val all: Seq[QuerySpec] = Seq(
    // embedding-batch health profile: per-dimension integer-µ moments
    // (dead/collapsed dims, scale explosions) — one posexplode into one
    // 64-group hash aggregate, partials collapse every task to ≤dims rows
    QuerySpec("embedding_stats", (s, dir) =>
      Embeddings.dimStats(t(s, dir, "embeddings"), "embedding"),
      // DuckDB // truncates toward zero while the engine floor-divides, so
      // mean_us (the one signed quotient) goes through the pmod floor trick
      """WITH e AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS v_us
        |  FROM embeddings),
        |a AS (SELECT dim, count(*) AS n, sum(CAST(v_us AS HUGEINT)) AS s,
        |  sum(CAST(v_us AS HUGEINT) * v_us) AS sq,
        |  min(v_us) AS min_us, max(v_us) AS max_us,
        |  count(CASE WHEN v_us = 0 THEN 1 END) AS n_zero FROM e GROUP BY dim)
        |SELECT CAST(dim AS BIGINT) AS dim, n,
        |  CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS mean_us,
        |  CAST((n * sq - s * s) // (n * n) AS BIGINT) AS var_us2,
        |  min_us, max_us, n_zero
        |FROM a""".stripMargin),

    // top principal component by bounded power iteration in integer
    // fixed-point: scatter matrix from micro-unit deviations, 3 unrolled
    // matvec+renormalize rounds — the engine-exact "is this batch
    // collapsing onto one axis" probe
    QuerySpec("embedding_pca", (s, dir) =>
      Embeddings.topComponentPpm(t(s, dir, "embeddings"), "vec_id",
        "embedding", rounds = pcaRounds).orderBy(col("dim")),
      // the power-iteration rounds unrolled as CTE triples (matvec, max-abs,
      // renormalize) over the scatter-matrix CTE; every division is the
      // shared pmod-floor form on HUGEINT
      {
      val base =
        "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim, " +
          "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS v_us FROM embeddings), " +
          "m AS (SELECT dim, CAST((sum(CAST(v_us AS HUGEINT)) - " +
          "((sum(CAST(v_us AS HUGEINT)) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS mu_us " +
          "FROM e GROUP BY dim), " +
          "d AS (SELECT vec_id, dim, CAST(v_us - mu_us AS HUGEINT) AS dv " +
          "FROM e JOIN m USING (dim)), " +
          "cov AS (SELECT a.dim AS i, b.dim AS j, sum(a.dv * b.dv) AS c " +
          "FROM d a JOIN d b ON a.vec_id = b.vec_id GROUP BY 1, 2), " +
          "v0 AS (SELECT dim, CAST(1000000 AS HUGEINT) AS v FROM m)"
      val rounds = (1 to pcaRounds).map { r =>
        s"w$r AS (SELECT i AS dim, sum(c * v) AS w FROM cov " +
          s"JOIN v${r - 1} ON cov.j = v${r - 1}.dim GROUP BY 1), " +
          s"m$r AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w$r), " +
          s"v$r AS (SELECT dim, (w * 1000000 - (((w * 1000000) % mx) + mx) % mx) // mx AS v " +
          s"FROM w$r, m$r)"
      }.mkString(", ")
      s"$base, $rounds SELECT dim, CAST(v AS BIGINT) AS v_ppm " +
        s"FROM v$pcaRounds ORDER BY dim"
    }),

    // fully-distributed bounded-round Lloyd k-means, every pass exact
    // integer — the trainer itself (not just its loss) is differentially
    // tested; seeds = k lowest ids (the anchor rule)
    QuerySpec("embedding_kmeans", (s, dir) =>
      Embeddings.kmeansExact(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = kmeansK, rounds = kmeansRounds),
      // the Lloyd rounds unrolled as (assign-dist, argmin, floor-mean
      // centroid) CTE triples over the quantized explode; final assignment
      // reports per-cell size + exact inertia
      {
      val base =
        "WITH e AS (SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS dim, " +
          "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS v_us FROM embeddings), " +
          "s AS (SELECT vec_id AS id, row_number() OVER (ORDER BY vec_id) - 1 AS cell " +
          s"FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $kmeansK)), " +
          "c0 AS (SELECT s.cell, e.dim, e.v_us AS c_us FROM e JOIN s ON e.id = s.id)"
      def round(r: Int): String =
        s"a${r}d AS (SELECT e.id, c.cell, sum(CAST(e.v_us - c.c_us AS HUGEINT) * (e.v_us - c.c_us)) AS dist " +
          s"FROM e JOIN c${r - 1} c ON e.dim = c.dim GROUP BY 1, 2), " +
          s"a$r AS (SELECT id, cell, dist FROM (SELECT *, row_number() OVER " +
          s"(PARTITION BY id ORDER BY dist, cell) AS rn FROM a${r}d) WHERE rn = 1), " +
          s"c$r AS (SELECT a.cell, e.dim, CAST((sum(CAST(e.v_us AS HUGEINT)) - " +
          "((sum(CAST(e.v_us AS HUGEINT)) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS c_us " +
          s"FROM e JOIN a$r a ON e.id = a.id GROUP BY 1, 2)"
      val rounds = (1 to kmeansRounds).map(round).mkString(", ")
      val fr = kmeansRounds + 1
      val fin =
        s"a${fr}d AS (SELECT e.id, c.cell, sum(CAST(e.v_us - c.c_us AS HUGEINT) * (e.v_us - c.c_us)) AS dist " +
          s"FROM e JOIN c$kmeansRounds c ON e.dim = c.dim GROUP BY 1, 2), " +
          s"a$fr AS (SELECT id, cell, dist FROM (SELECT *, row_number() OVER " +
          s"(PARTITION BY id ORDER BY dist, cell) AS rn FROM a${fr}d) WHERE rn = 1)"
      s"$base, $rounds, $fin " +
        s"SELECT cell, count(*) AS n_vecs, CAST(sum(dist) AS BIGINT) AS inertia_us2 " +
        s"FROM a$fr GROUP BY cell"
    }),

    // inter-class separability: exact µ² distances between per-label
    // floor-mean centroids — the "are these classes even separable" check
    QuerySpec("embedding_class_sep", (s, dir) =>
      Embeddings.classSeparation(t(s, dir, "embeddings"), "embedding",
        "label"),
      // per-label floor-mean centroids, then pure-integer pair distances
      ("WITH e AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, " +
        "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS v_us FROM embeddings), " +
        "m AS (SELECT label, dim, CAST((sum(CAST(v_us AS HUGEINT)) - " +
        "((sum(CAST(v_us AS HUGEINT)) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS mu_us " +
        "FROM e GROUP BY 1, 2) " +
        "SELECT a.label AS label_a, b.label AS label_b, " +
        "CAST(sum(CAST(a.mu_us - b.mu_us AS HUGEINT) * (a.mu_us - b.mu_us)) AS BIGINT) AS dist2_us2 " +
        "FROM m a JOIN m b ON a.dim = b.dim AND a.label < b.label " +
        "GROUP BY 1, 2")),

    // embedding-batch outlier screen: top-k farthest from the corpus
    // centroid, exact integer µ² distances (floor-mean per dim broadcast
    // back over one posexplode) — the "inspect these before training" list
    QuerySpec("embedding_outliers", (s, dir) =>
      Embeddings.centroidOutliers(t(s, dir, "embeddings"), "vec_id",
        "embedding", topK = outlierTopK),
      // floor-mean per dim via the pmod trick (component sums can be
      // negative), then pure-integer squared deviations
      (s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
        |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS v_us
        |  FROM embeddings),
        |m AS (SELECT dim, CAST((sum(CAST(v_us AS HUGEINT)) -
        |  ((sum(CAST(v_us AS HUGEINT)) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS mu_us
        |  FROM e GROUP BY dim),
        |d AS (SELECT e.vec_id, CAST(e.v_us - m.mu_us AS HUGEINT) AS dv
        |  FROM e JOIN m USING (dim))
        |SELECT vec_id, CAST(sum(dv * dv) AS BIGINT) AS dist2_us2
        |FROM d GROUP BY vec_id
        |ORDER BY dist2_us2 DESC, vec_id LIMIT $outlierTopK""".stripMargin)),

    // k-center coreset over the embedding space (Gonzalez greedy,
    // 2-approx): deterministic seed, then 3 farthest-point rounds — the
    // geometric twin of corpus_maxcover_select; per round one linear
    // scan + a 1-row argmax, distances exact cross-engine (shared fold)
    QuerySpec("embedding_kcenter_select", (s, dir) =>
      Similarity.kCenterSelect(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 4),
      // unrolled 4-step Gonzalez greedy: seed by stable-hash order, then
      // per step the farthest point (min-dist-to-selected argmax, dist
      // DESC / id ASC) with the least() running-min chain the engine uses
      {
      def dotOf(a: String, b: String): String =
        s"list_sum(list_transform(range(1, 65), d -> $a.vec[d]::DOUBLE * $b.vec[d]::DOUBLE))"
      val prefix = "WITH v AS (SELECT vec_id AS id, embedding AS vec, " +
        "sqrt(list_sum(list_transform(range(1, 65), d -> embedding[d]::DOUBLE * embedding[d]::DOUBLE))) AS n FROM embeddings), " +
        s"s1 AS (SELECT id, vec, n FROM v ORDER BY $sqlStableBucket30, id LIMIT 1), " +
        s"d1 AS (SELECT v.id, v.vec, v.n, 1 - ${dotOf("v", "s")} / (v.n * s.n) AS mind FROM v, s1 s), "
      val steps = (2 to 4).map { k =>
        val selected = (Seq("s1") ++ (2 until k).map(j => s"w$j"))
          .map(t => s"SELECT id FROM $t").mkString(" UNION ALL ")
        s"w$k AS (SELECT id, vec, n, mind FROM d${k - 1} " +
          s"WHERE id NOT IN ($selected) ORDER BY mind DESC, id LIMIT 1), " +
          (if (k < 4)
            s"d$k AS (SELECT d.id, d.vec, d.n, least(d.mind, " +
              s"1 - ${dotOf("d", "w")} / (d.n * w.n)) AS mind " +
              s"FROM d${k - 1} d, w$k w), "
          else "")
      }.mkString
      prefix + steps.stripSuffix(", ") +
        " SELECT * FROM (SELECT CAST(1 AS INTEGER) AS step, id AS vec_id, " +
        "CAST(NULL AS BIGINT) AS dist_mu FROM s1" +
        (2 to 4).map(k =>
          s" UNION ALL SELECT $k, id, CAST(floor(mind * 1000000) AS BIGINT) FROM w$k")
          .mkString +
        ") ORDER BY step"
    }),

    // batched farthest-point: 2 picks per round against the PRE-round
    // center set, one least()-fold update scan per round — ⌈(k−1)/B⌉
    // jobs instead of k−1 at coreset-realistic k
    QuerySpec("embedding_kcenter_batched", (s, dir) =>
      Similarity.kCenterSelect(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 5, batch = 2),
      // batched farthest-point, 2 picks/round: each round's TOP-2 by
      // (mind DESC, id) against the PRE-round mind (steps via row_number),
      // then one least() update folding both new centers
      {
      def dotOf(a: String, b: String): String =
        s"list_sum(list_transform(range(1, 65), d -> $a.vec[d]::DOUBLE * $b.vec[d]::DOUBLE))"
      "WITH v AS (SELECT vec_id AS id, embedding AS vec, " +
        "sqrt(list_sum(list_transform(range(1, 65), d -> embedding[d]::DOUBLE * embedding[d]::DOUBLE))) AS n FROM embeddings), " +
        s"s1 AS (SELECT id, vec, n FROM v ORDER BY $sqlStableBucket30, id LIMIT 1), " +
        s"d1 AS (SELECT v.id, v.vec, v.n, 1 - ${dotOf("v", "s")} / (v.n * s.n) AS mind FROM v, s1 s), " +
        "w2 AS (SELECT id, vec, n, mind, CAST(1 + row_number() OVER " +
        "(ORDER BY mind DESC, id) AS INTEGER) AS step FROM d1 " +
        "WHERE id NOT IN (SELECT id FROM s1) ORDER BY mind DESC, id LIMIT 2), " +
        "d2 AS (SELECT d.id, least(any_value(d.mind), " +
        s"min(1 - ${dotOf("d", "w")} / (d.n * w.n))) AS mind " +
        "FROM d1 d, w2 w GROUP BY d.id), " +
        "w3 AS (SELECT id, mind, CAST(3 + row_number() OVER " +
        "(ORDER BY mind DESC, id) AS INTEGER) AS step FROM d2 " +
        "WHERE id NOT IN (SELECT id FROM s1 UNION ALL SELECT id FROM w2) " +
        "ORDER BY mind DESC, id LIMIT 2) " +
        "SELECT * FROM (SELECT CAST(1 AS INTEGER) AS step, id AS vec_id, " +
        "CAST(NULL AS BIGINT) AS dist_mu FROM s1 " +
        "UNION ALL SELECT step, id, CAST(floor(mind * 1000000) AS BIGINT) FROM w2 " +
        "UNION ALL SELECT step, id, CAST(floor(mind * 1000000) AS BIGINT) FROM w3" +
        ") ORDER BY step"
    }),

    // EMBEDDING-SPACE drift: the same PSI over IVF cell shares — "did the
    // new snapshot move in representation space", the drift check a
    // retrieval/embedding deployment runs on every refresh. Cells are
    // the dedup_semantic anchor assignment (iters=0 ≡ lowest-id seeds, so
    // the oracle recomputes them); snapshots are the md5 80/20 split
    QuerySpec("embedding_psi_drift", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Ivf.train(emb, "vec_id", "embedding", 8, iters = 0,
        metric = "l2")
      val asg = Ivf.cellAssignments(emb, "vec_id", "embedding", cents,
        metric = "l2")
      Profile.psiTerms(asg.select(col("cell"),
        (Sampling.stableBucket(col("vec_id")) < 80).as("_old")),
        "cell", "_old")
    },
      // embedding PSI: the corpus_cluster anchor-assignment CTEs + the
      // corpus_psi_drift share/ln/µ8 convention
      ("WITH cent AS (SELECT vec_id AS cid, embedding AS cvec, " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS cnorm " +
        "FROM embeddings ORDER BY vec_id LIMIT 8), " +
        "sc AS (SELECT e.vec_id, c.cid, " +
        "2.0 * list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE)) - c.cnorm * c.cnorm AS s " +
        "FROM embeddings e CROSS JOIN cent c), " +
        "asg AS (SELECT vec_id, cid AS cell FROM (SELECT vec_id, cid, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sc) WHERE rn = 1), " +
        "tg AS (SELECT cell, ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 AS old FROM asg), " +
        "c AS (SELECT cell, count(CASE WHEN old THEN 1 END) AS n_old, " +
        "count(CASE WHEN NOT old THEN 1 END) AS n_new FROM tg GROUP BY 1), " +
        "tt AS (SELECT sum(n_old) AS toc, sum(n_new) AS tnc, count(*) AS nb FROM c) " +
        "SELECT cell, n_old, n_new, " +
        "CAST(floor(((n_old + 1)::DOUBLE / (toc + nb)::DOUBLE - (n_new + 1)::DOUBLE / (tnc + nb)::DOUBLE) * " +
        "ln(((n_old + 1)::DOUBLE / (toc + nb)::DOUBLE) / ((n_new + 1)::DOUBLE / (tnc + nb)::DOUBLE)) * 100000000) AS BIGINT) AS psi_term_u8 " +
        "FROM c, tt")),

    // int8 quantization (4× storage cut before ANN indexing); q serialized
    // positionally — order is the payload, so no driverSafe sort
    QuerySpec("embedding_quantize", (s, dir) => {
      val qz = Similarity.quantizeInt8(col("embedding"))
      t(s, dir, "embeddings").select(col("vec_id"),
          qz.getField("scale").as("scale"),
          array_join(transform(qz.getField("q"), _.cast("string")), "|").as("q"))
    },
      ("WITH m AS (SELECT vec_id, embedding AS v, " +
        "list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma FROM embeddings) " +
        "SELECT vec_id, ma / 127.0 AS scale, " +
        "CASE WHEN ma = 0 THEN array_to_string(list_transform(v, x -> '0'), '|') " +
        "ELSE array_to_string(list_transform(v, " +
        "x -> CAST(CAST(round(x::DOUBLE / (ma / 127.0)) AS INTEGER) AS VARCHAR)), '|') " +
        "END AS q FROM m")),

    // filtered vector search: the metadata predicate applies BEFORE the
    // scan (pushed filter), top-k runs over the filtered corpus only
    QuerySpec("ann_filtered_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.filter(col("label") === annFilterLabel)
          .select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5)
    },
      // same kNN CTE with the label predicate inside the corpus leg
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        "scored AS (SELECT q.qid, e.vec_id AS nid, " +
        "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
        s"FROM embeddings e, q WHERE e.label = $annFilterLabel AND e.vec_id <> q.qid) " +
        "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored) " +
        "WHERE rn <= 5")),

    // kNN label-noise audit: probe sample vs strict-majority neighbor
    // vote — the "is this labeled set trainable" check; exact kNN is the
    // oracle mode, the LSH candidate frame is the 100 TB swap-in
    QuerySpec("embedding_label_noise", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.labelNoiseReport(emb, "vec_id", "embedding", "label",
        probes = emb.filter(pmod(col("vec_id"), lit(noiseProbeMod)) === 0),
        k = 5)
    },
      labelNoiseOracleSql),

    QuerySpec("ann_brute_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5)
    },
      annBruteOracleSql),

    // what the RHP buckets MISS: precision/recall of the bucketed miner
    // against the exact capless margin criterion on a probe sample of
    // the query side — the ann_recall_report analog for bitext mining.
    // The probe set is HARD-CAPPED at 512 (stableCappedSample hash
    // order): a pct-only sample scales with the corpus and the exact
    // twin's probes × corpus scoring degenerates quadratic (measured
    // 4.5 s at sf1.0 → 402 s at sf10 with %8 probes); with the cap,
    // evaluation cost is (512 × corpus) — one linear scan at any SF
    QuerySpec("bitext_recall_report", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("nid"), col("embedding").as("nv"))
      val probes = Sampling.stableCappedSample(
        emb.filter(col("vec_id") % 8 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        col("qid"), 100, 512)
      Similarity.bitextRecallReport(
        Similarity.bitextMarginMine(corpus, "nid", "nv", probes,
          "qid", "qv", bits = 8, dim = 64, marginMu = 20000L,
          maxBucket = 1024),
        Similarity.bitextMarginExact(corpus, "nid", "nv", probes,
          "qid", "qv", marginMu = 20000L))
    },
      bitextRecallOracleSql),

    QuerySpec("ann_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5, bits = 8, dim = 64)
    },
      annLshOracleSql),

    // graph-based ANN: deterministic NN-descent k-NN graph (LSH-bucket
    // init in md5 order, 2 unrolled neighbor-of-neighbor rounds, md5
    // reverse caps, id tie-breaks) — the graph is built for the WHOLE
    // corpus (that is the artifact at scale); the probe rows < 8 are
    // what the oracle re-derives and recall is measured in AnnGraphSpec
    QuerySpec("ann_graph_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.nnDescentGraph(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv", k = 5, rounds = 2, bits = 4, dim = 64,
        initWindow = annGraphInitWindow, buildK = annGraphBuildK)
        .filter(col("node_id") < 8)
        .select(col("node_id").as("query_id"), col("rank"),
          col("neighbor_id"), col("sim"))
    },
      annGraphOracleSql),

    // kNN-graph takedown (the last delete-family member to get a hash
    // oracle): build the published graph, delete ids {3, 5}, and repair
    // via prune + re-insert — affected survivors re-enter as fresh
    // inserts through appendToGraph's ball splice (window links + 2
    // in-ball refinement rounds), untouched nodes keep list AND rank
    // verbatim. The oracle extends the ann_graph_topk build unroll with
    // the same prune + ball replay
    QuerySpec("ann_graph_delete", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nv"))
      val graph = Similarity.nnDescentGraph(corpus, "nid", "nv", k = 5,
        rounds = 2, bits = 4, dim = 64, initWindow = annGraphInitWindow,
        buildK = annGraphBuildK)
      Similarity.deleteFromGraph(graph, corpus,
          emb.filter(col("vec_id").isin(3L, 5L))
            .select(col("vec_id").as("nid")),
          "nid", "nv", k = 5, rounds = 2, bits = 4, dim = 64,
          initWindow = annGraphInitWindow, buildK = annGraphBuildK)
        .filter(col("node_id") < 12)
        .select(col("node_id").as("query_id"), col("rank"),
          col("neighbor_id"), col("sim"))
    },
      annGraphDeleteOracleSql),

    // recall@5 evaluation: multi-probe LSH vs exact brute force — the
    // tuning loop for every ANN knob, itself exactly oracle-checked
    // recall-vs-nprobe tradeoff curve for the anchor-mode IVF index: one
    // brute-force truth (persisted), four probe widths, macro totals +
    // floor-ppm recall per row — the knob-tuning table an ANN deployment
    // reads before picking its latency/recall point
    QuerySpec("ann_nprobe_curve", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nv"))
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = Similarity.bruteForceTopK(corpus, "nid", "nv",
          qs, "qid", "qv", k = 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rows = annNprobes.map { np =>
        val approx = Ivf.topK(corpus, "nid", "nv", qs, "qid", "qv",
          k = 5, numCells = 16, nprobe = np, iters = 0, salts = 1)
        Similarity.recallAtK(approx, exact)
          .agg(count(lit(1)).as("n_queries"),
            sum(col("n_exact")).as("n_exact"),
            sum(col("n_hit")).as("n_hit"))
          .select(lit(np.toLong).as("nprobe"), col("n_queries"),
            col("n_exact"), col("n_hit"),
            Sampling.intDivExact(col("n_hit") * lit(1000000L),
              col("n_exact")).as("recall_ppm"))
      }
      val out = rows.reduce(_ unionByName _).transform(Frames.truncate)
      exact.unpersist(false)
      out
    },
      // the same IVF pipeline at each probe width, macro recall vs the
      // brute-force CTE (shared `ex` leg), floor-ppm
      {
      val legs = annNprobes.map { np =>
        s"SELECT CAST($np AS BIGINT) AS nprobe, count(*) AS n_queries, " +
          "CAST(sum(n_exact) AS BIGINT) AS n_exact, " +
          "CAST(sum(n_hit) AS BIGINT) AS n_hit, " +
          "CAST((sum(n_hit) * 1000000) // sum(n_exact) AS BIGINT) AS recall_ppm " +
          "FROM (SELECT ex.query_id, count(*) AS n_exact, " +
          s"count(ap.neighbor_id) AS n_hit FROM ex LEFT JOIN " +
          s"(SELECT query_id, neighbor_id FROM (${ivfAnchorOracleSql(np)})) ap " +
          "ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id " +
          "GROUP BY ex.query_id)"
      }
      s"WITH ex AS ($annBruteOracleSql) " + legs.mkString(" UNION ALL ")
    }),

    QuerySpec("ann_recall_report", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.recallAtK(
        Similarity.lshTopK(corpus, "nid", "nv", qs, "qid", "qv",
          k = 5, bits = 8, dim = 64),
        Similarity.bruteForceTopK(corpus, "nid", "nv", qs, "qid", "qv", k = 5))
    },
      // recall@5 of multi-probe RHP-LSH vs exact: both sides are the same
      // deterministic pipelines as their standalone queries, so the report
      // itself is exactly checkable (nested-WITH CTEs)
      (s"WITH ap AS ($annLshOracleSql), ex AS ($annBruteOracleSql) " +
        "SELECT ex.query_id, count(*) AS n_exact, " +
        "count(ap.neighbor_id) AS n_hit, " +
        "round(count(ap.neighbor_id) / CAST(count(*) AS DOUBLE), 6) AS recall " +
        "FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id " +
        "AND ex.neighbor_id = ap.neighbor_id GROUP BY ex.query_id")),

    // the SERVING path of graph ANN: greedy beam search over the
    // NN-descent graph (HNSW-style query loop, single layer) — NO
    // corpus scan at query time; 3 unrolled expand→score→top-8 rounds
    // seeded from the md5-min entry point of EVERY occupied LSH bucket
    // (≤ 2^4 seeds — a disconnected graph region stays reachable),
    // final top-5
    QuerySpec("ann_graph_search", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nv"))
      val graph = Similarity.nnDescentGraph(corpus, "nid", "nv", k = 5,
        rounds = 2, bits = 4, dim = 64, initWindow = annGraphInitWindow,
        buildK = annGraphBuildK)
      Similarity.graphBeamSearch(graph, corpus, "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5, beamWidth = 8, steps = 3, bits = 4, dim = 64)
    },
      annGraphSearchOracleSql),

    // hard-negative mining for embedding training (triplet/contrastive
    // batches): per probe anchor, the nearest SAME-label neighbor (the
    // positive) and the nearest OTHER-label neighbor (the hard negative)
    // with the floor-µ margin between them — the pair-construction pass
    // an embedding trainer runs over the corpus. One broadcast scan
    // (the brute-force shape), top-1 per side via a partial-agg struct
    // max (sim, then lowest id on ties) — no corpus-wide window
    QuerySpec("embedding_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("nid"),
          col("embedding").as("nv"), col("label").as("nl"))
        .withColumn("_cn", Similarity.norm(col("nv")))
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("ql"))
        .withColumn("_qn", Similarity.norm(col("qv")))
      val scored = corpus.join(broadcast(qs))
        .filter(col("nid") =!= col("qid"))
        .withColumn("sim", Similarity.cosinePrenormed(col("nv"),
          col("qv"), col("_cn"), col("_qn")))
      def top1(df: DataFrame) = df
        .groupBy(col("qid"), col("ql"))
        .agg(max(struct(col("sim"), (-col("nid")).as("negid"))).as("_b"))
        .select(col("qid"), col("ql"),
          (-col("_b").getField("negid")).as("nid"),
          col("_b").getField("sim").as("sim"))
      val pos = top1(scored.filter(col("nl") === col("ql")))
        .select(col("qid"), col("ql"), col("nid").as("pos_id"),
          col("sim").as("_ps"))
      val neg = top1(scored.filter(col("nl") =!= col("ql")))
        .select(col("qid"), col("nid").as("neg_id"), col("sim").as("_ns"))
      pos.join(neg, Seq("qid"))
        .select(col("qid").as("anchor_id"), col("ql").as("label"),
          col("pos_id"), round(col("_ps"), 6).as("pos_sim"),
          col("neg_id"), round(col("_ns"), 6).as("neg_sim"),
          floor((col("_ps") - col("_ns")) * lit(1000000d)).cast("long")
            .as("margin_us"))
    },
      // hard negatives: the labelNoise brute cosine CTE, split by label
      // match, top-1 per side by (sim DESC, nid) ≡ the engine's struct max
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql " +
        "FROM embeddings WHERE vec_id < 8), " +
        "sc AS (SELECT q.qid, q.ql, e.vec_id AS nid, e.label AS nl, " +
        "list_sum(list_transform(range(1, 65), d -> e.embedding[d]::DOUBLE * q.qv[d]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), d -> e.embedding[d]::DOUBLE * e.embedding[d]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), d -> q.qv[d]::DOUBLE * q.qv[d]::DOUBLE)))) AS sim " +
        "FROM embeddings e, q WHERE e.vec_id <> q.qid), " +
        "p AS (SELECT qid, ql, nid AS pos_id, sim AS ps FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc WHERE nl = ql) WHERE rn = 1), " +
        "n AS (SELECT qid, nid AS neg_id, sim AS ns FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc WHERE nl <> ql) WHERE rn = 1) " +
        "SELECT p.qid AS anchor_id, p.ql AS label, p.pos_id, " +
        "round(p.ps, 6) AS pos_sim, n.neg_id, round(n.ns, 6) AS neg_sim, " +
        "CAST(floor((p.ps - n.ns) * 1000000) AS BIGINT) AS margin_us " +
        "FROM p JOIN n ON p.qid = n.qid")),

    // KNN-Shapley data valuation (Jia et al. VLDB'19): exact closed-form
    // Shapley value of every training vector for a 5-NN classifier on
    // the 8 probe rows — quantized to integer qq units per term so the
    // suffix sums are order-free. Top-20 most valuable points: the
    // "which examples help validation" report
    QuerySpec("embedding_knn_shapley", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnShapleyValues(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", "label",
          k = 5)
        .groupBy(col("nid"), col("label"))
        .agg(sum(col("value_qq")).as("total_value_qq"))
        .orderBy(col("total_value_qq").desc, col("nid").asc)
        .limit(20)
    },
      // KNN-Shapley unroll: same (sim DESC, nid) ranks, same pmod-floored
      // qq terms, same order-free integer suffix sums
      (s"WITH $knnShapleyCtes " +
        "SELECT nid, label, CAST(sum(value_qq) AS BIGINT) AS total_value_qq " +
        "FROM sv GROUP BY 1, 2 ORDER BY 3 DESC, 1 LIMIT 20")),

    // the label-level rollup of the same valuation: which CLASS of
    // training data carries the probe set — the mixture-weight signal
    // (negative totals = labels that actively hurt these probes)
    QuerySpec("embedding_value_by_label", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnShapleyValues(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", "label",
          k = 5)
        .groupBy(col("label"))
        .agg(countDistinct(col("nid")).as("n_points"),
          sum(col("value_qq")).as("total_value_qq"))
    },
      (s"WITH $knnShapleyCtes " +
        "SELECT label, count(DISTINCT nid) AS n_points, " +
        "CAST(sum(value_qq) AS BIGINT) AS total_value_qq FROM sv GROUP BY 1")),

    // the same recall loop for the NN-descent graph: how close the
    // 2-round refined graph sits to brute truth on the probe rows
    QuerySpec("ann_graph_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.recallAtK(
        Similarity.nnDescentGraph(corpus, "nid", "nv", k = 5, rounds = 2,
          bits = 4, dim = 64, initWindow = annGraphInitWindow,
          buildK = annGraphBuildK)
          .filter(col("node_id") < 8)
          .select(col("node_id").as("query_id"), col("neighbor_id")),
        Similarity.bruteForceTopK(corpus, "nid", "nv", qs, "qid", "qv", k = 5))
    },
      // same recall shape over the NN-descent graph probe rows
      (s"WITH ap AS ($annGraphOracleSql), ex AS ($annBruteOracleSql) " +
        "SELECT ex.query_id, count(*) AS n_exact, " +
        "count(ap.neighbor_id) AS n_hit, " +
        "round(count(ap.neighbor_id) / CAST(count(*) AS DOUBLE), 6) AS recall " +
        "FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id " +
        "AND ex.neighbor_id = ap.neighbor_id GROUP BY ex.query_id")),

    // MMR diversified re-rank of the brute-force shortlist (λ = 0.7,
    // k = 3): the greedy trajectory is engine-exact (bit-identical
    // cosines, IEEE λ-arithmetic, id tie-breaks), so the oracle unrolls
    // the same 3 rounds — the graph_pagerank pattern for iterative ops
    QuerySpec("ann_mmr_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val shortlist = Similarity.bruteForceTopK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 10)
      val withVec = shortlist.join(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("v")),
        "neighbor_id")
      Similarity.mmrRerank(withVec, "query_id", "neighbor_id", "sim", "v",
          k = 3, lam = mmrLam)
        // floor-µ, not round: a score can land on a rounding half-boundary
        // where the engines' round() disagree; floor of the bit-identical
        // double is exact
        .withColumn("score_e6",
          floor(col("score") * lit(1000000.0)).cast("long"))
        .select(col("query_id"), col("rank"), col("doc_id"), col("score_e6"))
    },
      mmrOracleSql),

    // probed IVF serving: 4/16 cells per query. iters=0 is anchor mode
    // (centroids = the 16 lowest-id vectors, SQL-recomputable), so cell
    // assignment, probing, and the probed top-k are EXACTLY oracle-checked;
    // trained centroids stay the prod default, pinned by IvfSpec. salts=1
    // skips top-k stage 1: at these SFs the probed candidate set per query
    // is reducer-sized (SCALE.md documents sizing both knobs to data)
    QuerySpec("ann_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ivf.topK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5, numCells = 16, nprobe = 4, iters = 0, salts = 1)
    },
      // anchor-mode IVF: centroids = the 16 lowest-id vectors; cosine cell
      // assignment (ties → lowest cid), each query probes its 4
      // cosine-nearest cells, probed candidates ranked top-5 (ties → nid) —
      // the full train→index→probe→top-k pipeline recomputed in SQL
      ivfAnchorOracleSql(4)),

    // TAKEDOWN through the persisted IVF index: build on the full
    // corpus (anchor centroids), DELETE every vec_id % 3 == 0 via the
    // affected-cells-only rewrite, then probe ALL cells so the read
    // degenerates to exact brute force over the survivors — which is
    // exactly what the oracle computes; equality proves the on-disk
    // delete ≡ rebuild-from-remaining (IvfSpec pins the cell-file-level
    // equivalence incl. wholly-emptied cells)
    QuerySpec("ann_ivf_delete", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivf_delete").toString
      Ivf.buildIndex(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv", path, numCells = 16, iters = 0)
      Ivf.deleteFromIndex(s, path,
        emb.filter(col("vec_id") % 3 === 0).select(col("vec_id").as("nid")),
        "nid")
      Ivf.topKIndexed(s, path, "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5, nprobe = 16, salts = 1)
    },
      // IVF with nprobe = numCells scores every (query, candidate) pair —
      // exactly the brute-force oracle
      // brute force over the SURVIVORS (vec_id % 3 <> 0): with nprobe =
      // numCells the deleted on-disk index degenerates to exactly this
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        "scored AS (SELECT q.qid, e.vec_id AS nid, " +
        "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
        "FROM embeddings e, q WHERE e.vec_id <> q.qid AND e.vec_id % 3 <> 0) " +
        "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored) " +
        "WHERE rn <= 5")),

    // search over the int8-QUANTIZED corpus (4× smaller storage): corpus
    // vectors round-trip through quantizeInt8/dequantize before scoring,
    // queries stay full precision — the standard compressed-index serving
    // shape. Exactly oracle-checked: quantization is deterministic, so
    // DuckDB recomputes the same dequantized corpus and the same top-k
    QuerySpec("ann_int8_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qz = Similarity.quantizeInt8(col("embedding"))
      Similarity.bruteForceTopK(
        emb.select(col("vec_id").as("nid"),
          Similarity.dequantize(qz.getField("q"), qz.getField("scale")).as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5)
    },
      // int8 round-trip corpus + full-precision queries, then brute-force
      // top-k — quantization mirrors the embedding_quantize oracle exactly
      ("WITH m AS (SELECT vec_id, embedding, " +
        "list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma FROM embeddings), " +
        "d AS (SELECT vec_id, CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0.0) " +
        "ELSE list_transform(embedding, x -> CAST(round(x::DOUBLE / (ma/127.0)) AS INTEGER) * (ma/127.0)) END AS v FROM m), " +
        "q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        "scored AS (SELECT q.qid, d.vec_id AS nid, " +
        "list_sum(list_transform(range(1, 65), i -> d.v[i] * q.qv[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> d.v[i] * d.v[i]))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
        "FROM d, q WHERE d.vec_id <> q.qid) " +
        "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored) " +
        "WHERE rn <= 5")),

    // nprobe = numCells probes EVERY cell, so IVF degenerates to exact
    // brute force regardless of the trained centroids — which makes the
    // whole train→quantize→probe→score→top-k pipeline oracle-checkable
    // against the brute-force SQL (IvfSpec pins the equivalence too)
    QuerySpec("ann_ivf_full", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ivf.topK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5, numCells = 16, nprobe = 16, salts = 1)
    },
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        "scored AS (SELECT q.qid, e.vec_id AS nid, " +
        "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
        "FROM embeddings e, q WHERE e.vec_id <> q.qid) " +
        "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored) " +
        "WHERE rn <= 5")),

    // ---- product quantization (IVF-PQ compression path) ------------------
    // the pq_* queries run ANCHOR codebooks (iters = 0, SQL-recomputable,
    // as Dedup.Md5Hasher is for the dedup kernels); the prod default
    // is trainCodebooks(iters > 0), whose equivalence/quality PqSpec pins.
    // codes are positional (order IS the payload) → serialized unsorted,
    // mirrored by the oracle's ORDER BY m string_agg
    QuerySpec("pq_encode", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Pq.anchorCodebooks(emb, "vec_id", "embedding", m = 4, k = 16)
      Pq.withCodes(emb, "embedding", cb)
        .select(col("vec_id"),
          array_join(transform(col("codes"), _.cast("string")), "|").as("codes"))
    },
      (s"WITH ${pqSqlCtes(4, 16, 16)} " +
        "SELECT vec_id, string_agg(CAST(j AS VARCHAR), '|' ORDER BY m) AS codes " +
        "FROM codes GROUP BY vec_id")),

    // ADC top-k over the coded corpus: sim = -squared-L2, ranked via the
    // same two-stage top-k as every other ANN path (salts = 1: candidate
    // set per query is the whole sf corpus here, reducer-sized)
    QuerySpec("ann_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Pq.anchorCodebooks(emb, "vec_id", "embedding", m = 4, k = 16)
      val coded = Pq.withCodes(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nv", cb).select(col("nid"), col("codes"))
      Pq.adcTopK(coded, "nid", "codes",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", cb, k = 5, salts = 1)
    },
      // ADC: per-(query, subspace, codeword) LUT distances, joined to each
      // candidate's codes; the per-pair sum folds in subspace order
      // (list_sum of `list(d2 ORDER BY m)`) to match the engine's
      // sequential aggregate — bit-identical doubles, not just close ones
      (s"WITH ${pqSqlCtes(4, 16, 16)}, " +
        "q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        "lut AS (SELECT q.qid, c.m, c.j, list_sum(list_transform(range(1, 17), i -> " +
        "(q.qv[c.m*16+i]::DOUBLE - c.av[c.m*16+i]::DOUBLE) * " +
        "(q.qv[c.m*16+i]::DOUBLE - c.av[c.m*16+i]::DOUBLE))) AS d2 FROM q, cw c), " +
        "scored AS (SELECT l.qid, cs.vec_id AS nid, -list_sum(list(l.d2 ORDER BY l.m)) AS sim " +
        "FROM codes cs JOIN lut l ON l.m = cs.m AND l.j = cs.j WHERE cs.vec_id <> l.qid " +
        "GROUP BY l.qid, cs.vec_id) " +
        "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored) " +
        "WHERE rn <= 5")),

    // matryoshka-style serving: coarse cosine on the FIRST 16 dims picks
    // a top-20 shortlist (4x less compute/IO per candidate), exact 64-dim
    // cosine re-ranks to top-5
    QuerySpec("ann_matryoshka_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.truncatedRerankTopK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", dims = 16, k = 5, shortlist = 20, salts = 1)
    },
      // coarse cosine on dims 1..16 → top-20 shortlist (ties by nid) →
      // exact 64-dim cosine re-rank; folds sequential on both engines
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        // zero truncated norms rank last (-2.0), mirroring the engine's
        // NaN guard — the branch never fires on this corpus but keeps the
        // two sides equivalent on any data
        "coarse AS (SELECT qid, nid, CASE WHEN cn * qn > 0 THEN dp / (cn * qn) ELSE -2.0 END AS csim FROM " +
        "(SELECT q.qid, e.vec_id AS nid, " +
        "list_sum(list_transform(range(1, 17), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) AS dp, " +
        "sqrt(list_sum(list_transform(range(1, 17), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) AS cn, " +
        "sqrt(list_sum(list_transform(range(1, 17), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) AS qn " +
        "FROM embeddings e, q WHERE e.vec_id <> q.qid)), " +
        "short AS (SELECT qid, nid FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY qid ORDER BY csim DESC, nid) AS rn FROM coarse) WHERE rn <= 20), " +
        "ex AS (SELECT s.qid, s.nid, " +
        "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
        "FROM short s JOIN embeddings e ON e.vec_id = s.nid JOIN q ON q.qid = s.qid) " +
        "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM ex) " +
        "WHERE rn <= 5")),

    // Johnson-Lindenstrauss serving for non-matryoshka embeddings: coarse
    // cosine in a 16-dim Achlioptas sparse random projection (determinis-
    // tic +-sqrt(3/16)/0 matrix from an integer hash) picks the top-20
    // shortlist, exact 64-dim cosine re-ranks to top-5
    QuerySpec("ann_rp_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.rpRerankTopK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", outDims = 16, dim = 64, k = 5, shortlist = 20,
        salts = 1)
    },
      // coarse cosine in the 16-dim Achlioptas sketch (projection recomputed
      // as exact nonzero-term + chains — bit-identical to the graft_dot
      // fold) → top-20 shortlist → exact 64-dim re-rank, mirroring
      // ann_matryoshka_topk's two-stage shape
      (s"WITH pr AS (SELECT vec_id, ${rpSqlProj("embedding", 16, 64)} AS pv FROM embeddings), " +
        "q AS (SELECT p.vec_id AS qid, e.embedding AS qv, p.pv AS qpv " +
        "FROM pr p JOIN embeddings e USING (vec_id) WHERE vec_id < 8), " +
        "coarse AS (SELECT qid, nid, CASE WHEN cn * qn > 0 THEN dp / (cn * qn) ELSE -2.0 END AS csim FROM " +
        "(SELECT q.qid, c.vec_id AS nid, " +
        "list_sum(list_transform(range(1, 17), i -> c.pv[i] * q.qpv[i])) AS dp, " +
        "sqrt(list_sum(list_transform(range(1, 17), i -> c.pv[i] * c.pv[i]))) AS cn, " +
        "sqrt(list_sum(list_transform(range(1, 17), i -> q.qpv[i] * q.qpv[i]))) AS qn " +
        "FROM pr c, q WHERE c.vec_id <> q.qid)), " +
        "short AS (SELECT qid, nid FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY qid ORDER BY csim DESC, nid) AS rn FROM coarse) WHERE rn <= 20), " +
        "ex AS (SELECT s.qid, s.nid, " +
        "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
        "FROM short s JOIN embeddings e ON e.vec_id = s.nid JOIN q ON q.qid = s.qid) " +
        "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM ex) " +
        "WHERE rn <= 5")),

    // two-stage retrieval: ADC top-20 shortlist, then exact-cosine re-rank
    // to top-5 — quantization error picks the shortlist, never the order
    QuerySpec("ann_pq_rerank", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Pq.anchorCodebooks(emb, "vec_id", "embedding", m = 4, k = 16)
      val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      val coded = Pq.withCodes(corpus, "nv", cb).select(col("nid"), col("codes"))
      Pq.rerankTopK(coded, "nid", "codes", corpus, "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", cb, k = 5, shortlist = 20, salts = 1)
    },
      // ADC shortlist (top-20, same arithmetic as ann_pq_topk), then exact
      // cosine over only the shortlisted (qid, nid) pairs, re-ranked to top-5
      (s"WITH ${pqSqlCtes(4, 16, 16)}, " +
        "q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        "lut AS (SELECT q.qid, c.m, c.j, list_sum(list_transform(range(1, 17), i -> " +
        "(q.qv[c.m*16+i]::DOUBLE - c.av[c.m*16+i]::DOUBLE) * " +
        "(q.qv[c.m*16+i]::DOUBLE - c.av[c.m*16+i]::DOUBLE))) AS d2 FROM q, cw c), " +
        "adc AS (SELECT l.qid, cs.vec_id AS nid, -list_sum(list(l.d2 ORDER BY l.m)) AS asim " +
        "FROM codes cs JOIN lut l ON l.m = cs.m AND l.j = cs.j WHERE cs.vec_id <> l.qid " +
        "GROUP BY l.qid, cs.vec_id), " +
        "short AS (SELECT qid, nid FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY qid ORDER BY asim DESC, nid) AS rn FROM adc) WHERE rn <= 20), " +
        "ex AS (SELECT s.qid, s.nid, " +
        "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
        "FROM short s JOIN embeddings e ON e.vec_id = s.nid JOIN q ON q.qid = s.qid) " +
        "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM ex) " +
        "WHERE rn <= 5")),

    // vector-norm health profile: exact Σv_us² per vector, log2-bucketed
    // — mis-scaled shards and zero vectors stand out immediately
    QuerySpec("embedding_norm_profile", (s, dir) =>
      t(s, dir, "embeddings")
        .select(aggregate(col("embedding"), lit(0L).cast("decimal(38,0)"),
          (acc, v) => {
            val us = round(v.cast("double") * lit(1000000d), 0).cast("long")
              .cast("decimal(38,0)")
            acc + us * us
          }).as("_n2"))
        .groupBy(when(col("_n2") === 0, lit(0L))
          .otherwise(length(bin(col("_n2").cast("long"))).cast("long"))
          .as("bucket"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("_n2")).cast("long").as("min_n2"),
          max(col("_n2")).cast("long").as("max_n2")),
      // the same sequential fold over micro-unit squares; zero vectors get
      // their own bucket 0
      ("WITH n AS (SELECT list_sum(list_transform(embedding, " +
        "v -> CAST(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) AS HUGEINT) * " +
        "CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))) AS n2 FROM embeddings) " +
        "SELECT CASE WHEN n2 = 0 THEN 0 ELSE len(bin(CAST(n2 AS BIGINT))) END AS bucket, " +
        "count(*) AS n_vecs, CAST(min(n2) AS BIGINT) AS min_n2, " +
        "CAST(max(n2) AS BIGINT) AS max_n2 FROM n GROUP BY 1")))
}
