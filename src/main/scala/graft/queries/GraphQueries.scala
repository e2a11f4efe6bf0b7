package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._
import Shared._

/** Graph analytics over the near-duplicate and link graphs: `graph_`. */
object GraphQueries {

  private val lpaRounds = 3                       // graph_communities
  private val linkPredictCap = 8                  // graph_link_predict
  private val bfsSeedMod = 17L                    // graph_bfs
  private val bfsRounds = 3
  // graph_domain_rank: minimal pages whose j-th link targets host
  // (doc_id·j + j) % 20 — an IRREGULAR directed host graph (out-degrees
  // collapse where the residues collide, in-degrees spread unevenly), so
  // PageRank is genuinely non-uniform
  private val domA = "<a href=\"http://src"   // || (doc_id*j + j) % 20 ||
  private val domB = ".example.com/\">r</a>"
  private val pprSeeds =                        // graph_ppr_seeds
    Seq("src3.example.com", "src7.example.com")

  /** The synthesized host link graph shared by graph_domain_rank and
    * graph_ppr_seeds: href harvest → absolute filter → canonicalize →
    * (src_host, dst_host) edges, link targets folding (doc_id·j + j) % 20
    * so the graph is irregular. */
  private def domainEdges(s: SparkSession, dir: String): DataFrame = {
    def hlink(j: Int) = concat(lit(domA),
      ((col("doc_id") * j + j) % 20).cast("string"), lit(domB))
    val html = concat(hlink(1), hlink(2), hlink(3))
    val links = t(s, dir, "documents")
      .select(concat(lit("src"), (col("doc_id") % 20).cast("string"),
        lit(".example.com")).as("src_host"),
        explode(Html.outlinks(html)).as("url"))
    Urls.linkGraph(links, "src_host", "url")
      .select(col("src_host").as("src"), col("dst_host").as("dst"))
  }

  /** Mirror of `Triangles.kCorePeel(k = 2, rounds = 3)` on the jaccard
    * pair graph: the same three remove-then-recount rounds unrolled. */
  private def kcoreOracleSql: String = {
    def degs(e: String, d: String) =
      s"$d AS (SELECT n AS node, count(*) AS degree FROM " +
        s"(SELECT id_a AS n FROM $e UNION ALL SELECT id_b FROM $e) GROUP BY n)"
    def peel(e: String, d: String, out: String) =
      s"$out AS (SELECT $e.id_a, $e.id_b FROM $e " +
        s"JOIN (SELECT node FROM $d WHERE degree >= 2) ka ON $e.id_a = ka.node " +
        s"JOIN (SELECT node FROM $d WHERE degree >= 2) kb ON $e.id_b = kb.node)"
    s"WITH e0 AS ($jaccardPairsOracleSql), " +
      degs("e0", "d0") + ", " + peel("e0", "d0", "e1") + ", " +
      degs("e1", "d1") + ", " + peel("e1", "d1", "e2") + ", " +
      degs("e2", "d2") + ", " + peel("e2", "d2", "e3") + ", " +
      degs("e3", "d3") + " SELECT node, degree FROM d3"
  }

  /** Mirror of `Triangles.kTrussPeel(k = 3, rounds = 2)` on the jaccard
    * pair graph: per round, enumerate each triangle once over the
    * canonical (id_a < id_b) edge set, credit its three edges, drop
    * edges with support < k−2 = 1, then report the survivors' residual
    * support. Triangle CTEs are AS MATERIALIZED — each is referenced 3×
    * and DuckDB inlines by reference (the ann_graph_delete lesson). */
  private def ktrussOracleSql: String = {
    def sup(e: String, t: String, sc: String) =
      s"$t AS MATERIALIZED (SELECT a.id_a AS tu, a.id_b AS tv, b.id_b AS tw " +
        s"FROM $e a JOIN $e b ON a.id_a = b.id_a AND a.id_b < b.id_b " +
        s"JOIN $e c ON c.id_a = a.id_b AND c.id_b = b.id_b), " +
        s"$sc AS (SELECT x, y, count(*) AS support FROM " +
        s"(SELECT tu AS x, tv AS y FROM $t UNION ALL SELECT tu, tw FROM $t " +
        s"UNION ALL SELECT tv, tw FROM $t) GROUP BY x, y)"
    def peel(e: String, sc: String, out: String) =
      s"$out AS (SELECT $e.id_a, $e.id_b FROM $e JOIN $sc " +
        s"ON $e.id_a = $sc.x AND $e.id_b = $sc.y WHERE $sc.support >= 1)"
    s"WITH e0 AS MATERIALIZED ($jaccardPairsOracleSql), " +
      sup("e0", "t0", "s0") + ", " + peel("e0", "s0", "e1") + ", " +
      sup("e1", "t1", "s1") + ", " + peel("e1", "s1", "e2") + ", " +
      sup("e2", "t2", "s2") +
      " SELECT x AS u, y AS v, support FROM s2"
  }

  /** Mirror of `Lpa.communities(rounds = lpaRounds)` over the jaccard pair
    * graph: the synchronous rounds unrolled as CTE triples (neighbor-label
    * counts → argmax with the (c DESC, lbl ASC) total tie-break → label
    * frame), generated from the same `lpaRounds` constant the Scala call
    * uses so the trajectories cannot drift apart. */
  private def lpaOracleSql: String = {
    val rounds = (1 to lpaRounds).map { i =>
      val prev = s"l${i - 1}"
      s"r$i AS (SELECT e.src, l.lbl AS nlbl, count(*) AS c " +
        s"FROM e JOIN $prev l ON e.dst = l.id GROUP BY e.src, l.lbl), " +
        s"t$i AS (SELECT src, nlbl FROM (SELECT src, nlbl, row_number() " +
        s"OVER (PARTITION BY src ORDER BY c DESC, nlbl ASC) AS rn FROM r$i) WHERE rn = 1), " +
        s"l$i AS (SELECT l.id, coalesce(t$i.nlbl, l.lbl) AS lbl " +
        s"FROM $prev l LEFT JOIN t$i ON l.id = t$i.src)"
    }.mkString(", ")
    s"WITH p AS ($jaccardPairsOracleSql), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p), " +
      "n AS (SELECT DISTINCT src AS id FROM e), " +
      "l0 AS (SELECT id, id AS lbl FROM n), " +
      rounds +
      s" SELECT id, lbl AS community FROM l$lpaRounds"
  }

  /** PageRank oracle: the 3 integer fixed-point rounds unrolled as CTEs —
    * HUGEINT `//` is the same floor division as the engine's DECIMAL(38,0)
    * intDiv, so both sides are bit-exact with no fp anywhere. */
  /** DuckDB twin of `PageRank.run(iters = 3)` over an arbitrary edge set:
    * `edgeCtes` must open the WITH clause and end with a CTE `e(src, dst)`
    * (DISTINCT edges — the engine distincts internally). The three
    * synchronous rounds unroll with the engine's exact integer
    * fixed-point arithmetic (HUGEINT `//` ≡ intDiv on the positive
    * domain). Shared by the part–supplier and domain-link rank oracles. */
  private def pageRankSqlOver(edgeCtes: String,
                              nodeAlias: String = "node"): String = {
    val base = edgeCtes + ", " +
      "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src), " +
      "n AS (SELECT src AS node FROM deg), " +
      "r0 AS (SELECT node, CAST(1000000000000 AS HUGEINT) AS pr FROM n), "
    val rounds = (1 to 3).map { k =>
      s"i$k AS (SELECT e.dst AS node, sum(r.pr // d.outdeg) AS s " +
        s"FROM r${k - 1} r JOIN deg d ON d.src = r.node " +
        s"JOIN e ON e.src = r.node GROUP BY e.dst), " +
        s"r$k AS (SELECT n.node, CAST(150000000000 AS HUGEINT) + " +
        s"(85 * COALESCE(i$k.s, 0)) // 100 AS pr FROM n LEFT JOIN i$k USING (node))"
    }.mkString(", ")
    base + rounds +
      s" SELECT node AS $nodeAlias, CAST(pr AS BIGINT) AS rank_u12 FROM r3"
  }

  /** DuckDB twin of `PageRank.hits(iters = 2)`: the same max-normalized
    * integer half-rounds unrolled — raw sums over the directed edges,
    * COALESCE 0 for sink/source-less nodes, rescale by a scalar-subquery
    * max exactly as the engine's broadcast 1-row max. */
  private def hitsSqlOver(edgeCtes: String,
                          nodeAlias: String = "node"): String = {
    val base = edgeCtes + ", " +
      "hn AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
      "h0 AS (SELECT node, CAST(1000000000000 AS HUGEINT) AS h FROM hn), "
    val rounds = (1 to 2).map { k =>
      s"a${k}r AS (SELECT hn.node, COALESCE(x.s, 0) AS ar FROM hn LEFT JOIN " +
        s"(SELECT e.dst AS node, sum(h.h) AS s FROM h${k - 1} h " +
        s"JOIN e ON e.src = h.node GROUP BY e.dst) x USING (node)), " +
        s"a$k AS (SELECT node, (ar * CAST(1000000000000 AS HUGEINT)) // " +
        s"(SELECT max(ar) FROM a${k}r) AS a FROM a${k}r), " +
        s"h${k}r AS (SELECT hn.node, COALESCE(x.s, 0) AS hr FROM hn LEFT JOIN " +
        s"(SELECT e.src AS node, sum(a.a) AS s FROM a$k a " +
        s"JOIN e ON e.dst = a.node GROUP BY e.src) x USING (node)), " +
        s"h$k AS (SELECT node, (hr * CAST(1000000000000 AS HUGEINT)) // " +
        s"(SELECT max(hr) FROM h${k}r) AS h FROM h${k}r)"
    }.mkString(", ")
    base + rounds +
      s" SELECT h2.node AS $nodeAlias, CAST(h2.h AS BIGINT) AS hub_u12, " +
      "CAST(a2.a AS BIGINT) AS auth_u12 FROM h2 JOIN a2 USING (node)"
  }

  /** The domain-link host edge set, rebuilt arithmetically for the rank
    * oracles (must end with `e(src, dst)` for pageRankSqlOver/pprSqlOver). */
  private val domainEdgeCtes: String =
    "WITH l AS (SELECT 'src' || (doc_id % 20) || '.example.com' AS src, " +
      "'src' || ((doc_id * j + j) % 20) || '.example.com' AS dst " +
      "FROM documents CROSS JOIN (VALUES (1), (2), (3)) q(j)), " +
      "e AS (SELECT DISTINCT src, dst FROM l)"

  /** DuckDB twin of `PageRank.runPersonalized(iters = 3, dampingPct = 85)`:
    * teleport CASE over the seed IN-list, per-seed share by the SAME
    * nested integer floors as the engine, r0 = the teleport vector. */
  private def pprSqlOver(edgeCtes: String, seeds: Seq[String],
                         nodeAlias: String): String = {
    val inList = seeds.map(s => s"'$s'").mkString(", ")
    val base = edgeCtes + ", " +
      "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src), " +
      "n AS (SELECT src AS node FROM deg), " +
      s"tp AS (SELECT node, CAST(CASE WHEN node IN ($inList) THEN " +
      s"(15 * 1000000000000 * (SELECT count(*) FROM n)) // 100 // ${seeds.size} " +
      "ELSE 0 END AS HUGEINT) AS t FROM n), " +
      "r0 AS (SELECT node, t AS pr FROM tp), "
    val rounds = (1 to 3).map { k =>
      s"i$k AS (SELECT e.dst AS node, sum(r.pr // d.outdeg) AS s " +
        s"FROM r${k - 1} r JOIN deg d ON d.src = r.node " +
        s"JOIN e ON e.src = r.node GROUP BY e.dst), " +
        s"r$k AS (SELECT n.node, tp.t + " +
        s"(85 * COALESCE(i$k.s, 0)) // 100 AS pr " +
        s"FROM n JOIN tp USING (node) LEFT JOIN i$k USING (node))"
    }.mkString(", ")
    base + rounds +
      s" SELECT node AS $nodeAlias, CAST(pr AS BIGINT) AS rank_u12 FROM r3"
  }

  private val PageRankSql: String = pageRankSqlOver(
    "WITH b AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem), " +
      "e AS (SELECT pk * 2 AS src, sk * 2 + 1 AS dst FROM b " +
      "UNION ALL SELECT sk * 2 + 1, pk * 2 FROM b)")

  val all: Seq[QuerySpec] = Seq(
    // ---- graph centrality: integer fixed-point PageRank -----------------
    // part↔supplier bipartite graph from distinct lineitem pairs, both
    // orientations (⇒ no dangling nodes); 3 rounds, u12 units, floor
    // division everywhere ⇒ bit-identical across partitionings and engines.
    // Node ids are LONGS (2·part / 2·supp+1, disjoint by parity): long
    // keys keep the distinct/degree/join stages in codegen'd hash
    // aggregation — measured ~2× over string-concat node keys
    QuerySpec("graph_pagerank", (s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val fwd = pairs.select(
        (col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = fwd.union(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      PageRank.run(edges, "src", "dst", iters = 3)
    },
      PageRankSql),

    // near-dup FAMILY-size histogram: log2 buckets over connected-
    // component sizes — the shape that picks the dedup strategy (a few
    // mega-families vs many pairs), the CC analogue of dedup_group_hist
    QuerySpec("graph_component_hist", (s, dir) => {
      val docs = docsShingled(s, dir)
      Dedup.componentsFromPairs(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        iters = 10)
        .groupBy(col("comp")).agg(count(lit(1)).as("_n"))
        .groupBy(length(bin(col("_n"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_families"),
          sum(col("_n")).as("n_docs"),
          min(col("_n")).as("min_size"),
          max(col("_n")).as("max_size"))
    },
      // the shared CC prefix, then the same log2 histogram convention
      (s"$ccCompPrefixSql, " +
        "fam AS (SELECT comp, count(*) AS n FROM comp GROUP BY 1) " +
        "SELECT CAST(len(bin(n)) AS BIGINT) AS bucket, " +
        "count(*) AS n_families, CAST(sum(n) AS BIGINT) AS n_docs, " +
        "min(n) AS min_size, max(n) AS max_size FROM fam GROUP BY 1")),

    // per-node triangle counts on the near-dup candidate graph
    // (degree-ordered orientation — no last-reducer wedge explosion):
    // dense-family vs transitive-bridge structure before CC collapses it
    QuerySpec("graph_triangles", (s, dir) => {
      val docs = docsShingled(s, dir)
      Triangles.perNode(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b")
    },
      // each triangle appears once as (a, b) (b, c) (a, c) with a < b < c —
      // the id-canonical twin of the degree-ordered enumeration
      (s"WITH p AS ($jaccardPairsOracleSql), " +
        "tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c " +
        "FROM p e1 JOIN p e2 ON e2.id_a = e1.id_b " +
        "JOIN p e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b) " +
        "SELECT node, count(*) AS n_triangles FROM " +
        "(SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY node")),

    // bounded synchronous LPA communities over the same graph: density-
    // aware complement to connected components (a borderline chain
    // bridging two dense duplicate families splits instead of merging);
    // deterministic by synchronous rounds + total argmax tie-break
    QuerySpec("graph_communities", (s, dir) => {
      val docs = docsShingled(s, dir)
      Lpa.communities(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b", rounds = lpaRounds)
    },
      lpaOracleSql),

    // modularity Q of the LPA partition (Newman & Girvan 2004) in exact
    // integer arithmetic: per community, Q-contribution = (4·m·e_c −
    // d_c²)/(4m²) in signed floor-ppm over DECIMAL — "did the community
    // pass find real structure". Edge/degree tallies are two label joins;
    // m rides as a 1-row broadcast
    QuerySpec("graph_modularity", (s, dir) => {
      val docs = docsShingled(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5,
          maxPosting = 500)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val comm = Lpa.communities(pairs, "id_a", "id_b", rounds = lpaRounds)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val und = pairs
        .select(least(col("id_a"), col("id_b")).as("u"),
          greatest(col("id_a"), col("id_b")).as("v"))
        .filter(col("u") < col("v")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mm = und.agg(count(lit(1)).cast(DecimalType(38, 0)).as("m"))
      val eIn = und
        .join(comm.select(col("id").as("u"), col("community").as("ca")),
          Seq("u"))
        .join(comm.select(col("id").as("v"), col("community").as("cb")),
          Seq("v"))
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("community"))
        .agg(count(lit(1)).as("e_in"))
      // aggregate-then-join (§2.3): per-node degree collapses the 2|E|
      // exploded endpoints to |V| rows BEFORE the community join (the
      // old shape shipped every endpoint row through the join), and one
      // |V|-sized pass then yields n_nodes AND d_sum in a single
      // aggregation — the separate nNodes exchange drops out. The join is
      // inner, like the oracle's `nn JOIN deg`: a community with no edge
      // has no cell. n_nodes counts the nodes with an edge, which is every
      // comm node (comm labels exactly the pair endpoints, and pairs
      // never pair a document with itself).
      val nodeDeg = und.select(explode(array(col("u"), col("v"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("_deg"))
      val cells = comm.join(nodeDeg, Seq("id"))
        .groupBy(col("community"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("_deg")).as("d_sum"))
        .join(eIn, Seq("community"), "left")
        .crossJoin(broadcast(mm))
        .select(col("community"), col("n_nodes"),
          coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"),
          (lit(4).cast(DecimalType(38, 0)) * col("m") *
            coalesce(col("e_in"), lit(0L)).cast(DecimalType(38, 0)) -
            col("d_sum").cast(DecimalType(38, 0)) * col("d_sum"))
            .as("_num"),
          (lit(4).cast(DecimalType(38, 0)) * col("m") * col("m"))
            .as("_den"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qTot = cells
        .agg(sum(col("_num")).as("_ns"), max(col("_den")).as("_d"))
        .select(Sampling.intDivExact(col("_ns") * lit(1000000L), col("_d"))
          .as("q_total_ppm"))
      val out = cells.select(col("community"), col("n_nodes"), col("e_in"),
          col("d_sum"),
          Sampling.intDivExact(col("_num") * lit(1000000L), col("_den"))
            .as("contrib_ppm"))
        .crossJoin(broadcast(qTot))
        .transform(Frames.truncate)
      Seq(pairs, comm, und, cells).foreach(_.unpersist(false))
      out
    },
      // modularity over the same LPA partition CTE: per-community edge and
      // degree tallies, the exact (4·m·e_c − d_c²) numerators in HUGEINT,
      // signed pmod floors for the ppm divisions
      (s"WITH c AS ($lpaOracleSql), " +
        s"p AS ($jaccardPairsOracleSql), " +
        "e AS (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v " +
        "FROM p WHERE id_a <> id_b), " +
        "mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e), " +
        "ein AS (SELECT la.community AS community, count(*) AS e_in FROM e " +
        "JOIN c la ON la.id = e.u JOIN c lb ON lb.id = e.v " +
        "WHERE la.community = lb.community GROUP BY 1), " +
        "deg AS (SELECT c.community, count(*) AS d_sum FROM " +
        "(SELECT u AS x FROM e UNION ALL SELECT v FROM e) t " +
        "JOIN c ON c.id = t.x GROUP BY 1), " +
        "nn AS (SELECT community, count(*) AS n_nodes FROM c GROUP BY 1), " +
        "cells AS (SELECT nn.community, nn.n_nodes, " +
        "CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in, deg.d_sum, " +
        "4 * mm.m * CAST(COALESCE(ein.e_in, 0) AS HUGEINT) - " +
        "CAST(deg.d_sum AS HUGEINT) * deg.d_sum AS num, " +
        "4 * mm.m * mm.m AS den FROM nn JOIN deg USING (community) " +
        "LEFT JOIN ein USING (community) CROSS JOIN mm), " +
        "qt AS (SELECT CAST((sum(num) * 1000000 - (((sum(num) * 1000000 % max(den)) " +
        "+ max(den)) % max(den))) // max(den) AS BIGINT) AS q_total_ppm FROM cells) " +
        "SELECT community, n_nodes, e_in, CAST(d_sum AS BIGINT) AS d_sum, " +
        "CAST((num * 1000000 - (((num * 1000000 % den) + den) % den)) // den " +
        "AS BIGINT) AS contrib_ppm, qt.q_total_ppm " +
        "FROM cells CROSS JOIN qt")),

    // bounded 3-round 2-core peel of the same graph: the density filter
    // separating a genuine duplicate core from its borderline halo
    QuerySpec("graph_kcore", (s, dir) => {
      val docs = docsShingled(s, dir)
      Triangles.kCorePeel(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b", k = 2, rounds = 3)
    },
      // 3 unrolled peel rounds over the shared jaccard CTE
      kcoreOracleSql),

    // bounded 2-round 3-truss peel of the same graph: the EDGE-grain
    // density filter one notch stricter than kcore — strips exactly the
    // triangle-free bridge edges whose transitive chains merge unrelated
    // template families (kcore keeps a long chain; a truss never does)
    QuerySpec("graph_ktruss", (s, dir) => {
      val docs = docsShingled(s, dir)
      Triangles.kTrussPeel(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b", k = 3, rounds = 2)
    },
      ktrussOracleSql),

    // local bridges of the near-dup graph: edges with NO common neighbor
    // — the chain links that merge unrelated families under transitive
    // closure (the per-edge audit list next to kcore/triangles)
    QuerySpec("graph_bridges", (s, dir) => {
      val docs = docsShingled(s, dir)
      Graphs.localBridges(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b")
    },
      // bridges = canonical edges minus edges whose endpoints share a
      // neighbor (wedge join + anti-join)
      (s"WITH p AS ($jaccardPairsOracleSql), " +
        "e AS (SELECT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v " +
        "FROM p WHERE id_a <> id_b GROUP BY 1, 2), " +
        "n AS (SELECT u, v FROM e UNION SELECT v, u FROM e), " +
        "sh AS (SELECT DISTINCT a.u AS u, b.u AS v FROM n a " +
        "JOIN n b ON a.v = b.v AND a.u < b.u) " +
        "SELECT e.u AS id_a, e.v AS id_b FROM e LEFT JOIN sh " +
        "ON e.u = sh.u AND e.v = sh.v WHERE sh.u IS NULL")),

    // takedown blast radius: every doc within <=3 near-dup hops of the
    // flagged seed set (bounded BFS, rounds declared so the oracle can
    // unroll them) — the transitive-contamination audit
    QuerySpec("graph_bfs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docsShingled(s, dir),
        "doc_id", "sh", 0.5, maxPosting = 500)
      Graphs.bfsDistances(pairs, "id_a", "id_b",
        docs.filter(pmod(col("doc_id"), lit(bfsSeedMod)) === 0)
          .select(col("doc_id")),
        "doc_id", rounds = bfsRounds)
    },
      // BFS rounds unrolled as frontier CTEs (the kcore/pagerank pattern);
      // each frontier excludes everything reached earlier
      (s"WITH p AS ($jaccardPairsOracleSql), " +
        "e AS (SELECT id_a AS u, id_b AS v FROM p " +
        "UNION SELECT id_b, id_a FROM p), " +
        s"d0 AS (SELECT DISTINCT doc_id AS node FROM documents WHERE doc_id % $bfsSeedMod = 0), " +
        "f1 AS (SELECT DISTINCT e.v AS node FROM e JOIN d0 ON e.u = d0.node " +
        "WHERE e.v NOT IN (SELECT node FROM d0)), " +
        "f2 AS (SELECT DISTINCT e.v AS node FROM e JOIN f1 ON e.u = f1.node " +
        "WHERE e.v NOT IN (SELECT node FROM d0 UNION SELECT node FROM f1)), " +
        "f3 AS (SELECT DISTINCT e.v AS node FROM e JOIN f2 ON e.u = f2.node " +
        "WHERE e.v NOT IN (SELECT node FROM d0 UNION SELECT node FROM f1 " +
        "UNION SELECT node FROM f2)) " +
        "SELECT node, CAST(0 AS BIGINT) AS dist FROM d0 " +
        "UNION ALL SELECT node, 1 FROM f1 " +
        "UNION ALL SELECT node, 2 FROM f2 " +
        "UNION ALL SELECT node, 3 FROM f3")),

    // connectivity profile of the candidate graph: log2-bucketed degree
    // histogram (bucket = length of the binary string — no libm log);
    // a heavy tail = a few boilerplate hubs dominate candidate volume
    QuerySpec("graph_degree_hist", (s, dir) => {
      val docs = docsShingled(s, dir)
      Graphs.degreeHistogram(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b")
    },
      // bin() drops leading zeros in both engines, so len(bin(degree)) is
      // the shared floor(log2)+1 bucket id
      (s"WITH p AS ($jaccardPairsOracleSql), " +
        "e AS (SELECT DISTINCT least(id_a, id_b) AS u, " +
        "greatest(id_a, id_b) AS v FROM p WHERE id_a <> id_b), " +
        "deg AS (SELECT node, count(*) AS degree FROM " +
        "(SELECT unnest([u, v]) AS node FROM e) GROUP BY node) " +
        "SELECT CAST(len(bin(degree)) AS BIGINT) AS bucket, " +
        "count(*) AS n_nodes, min(degree) AS min_degree, " +
        "max(degree) AS max_degree FROM deg GROUP BY 1")),

    // domain authority: the full crawl composition — href harvest →
    // canonicalize → host edges → 3-round integer fixed-point PageRank
    // (the domain-quality prior a crawl scheduler feeds back into
    // frontier ordering); the oracle rebuilds the host edge set
    // arithmetically and unrolls the same rounds
    QuerySpec("graph_domain_rank", (s, dir) =>
      PageRank.run(domainEdges(s, dir), "src", "dst", iters = 3)
        .select(col("node").as("host"), col("rank_u12")),
      // host edges rebuilt arithmetically (independent of the href/canonical
      // route, which corpus_link_graph verifies); same unrolled fixed-point
      // rounds as graph_pagerank via the shared pageRankSqlOver
      pageRankSqlOver(domainEdgeCtes,
      nodeAlias = "host")),

    // HITS hubs & authorities over the same host graph — the companion
    // centrality (directory pages vs content pages) in max-normalized
    // integer fixed point: each half-round is one join + one agg + one
    // 1-row max broadcast; the oracle unrolls the same 2 rounds
    QuerySpec("graph_hits", (s, dir) =>
      PageRank.hits(domainEdges(s, dir), "src", "dst", iters = 2)
        .select(col("node").as("host"), col("hub_u12"), col("auth_u12")),
      // same edge set, the 2 HITS half-rounds unrolled with scalar-subquery
      // max rescales mirroring the engine's broadcast 1-row max
      hitsSqlOver(domainEdgeCtes, nodeAlias = "host")),

    // common-neighbor link prediction on the undirected host graph:
    // wedge-join candidates under the per-node adjacency cap (cap binds
    // on this graph and is mirrored in the oracle; cn is a capped-
    // adjacency lower bound, only the Jaccard denominator is true
    // degree), total-order top-k
    QuerySpec("graph_link_predict", (s, dir) =>
      Graphs.linkPredict(domainEdges(s, dir), "src", "dst",
        maxNeighbors = linkPredictCap, topK = 20),
      // link prediction: same symmetrized edges, per-node adjacency cap by
      // the same row_number order, wedge join, true-degree Jaccard
      (s"$domainEdgeCtes, " +
        "und AS (SELECT DISTINCT u, v FROM (SELECT src AS u, dst AS v FROM e " +
        "UNION ALL SELECT dst, src FROM e) WHERE u <> v), " +
        "dg AS (SELECT u AS node, count(*) AS degree FROM und GROUP BY u), " +
        "cap AS (SELECT u, v FROM (SELECT u, v, row_number() OVER " +
        "(PARTITION BY u ORDER BY v) AS rn FROM und) " +
        s"WHERE rn <= $linkPredictCap), " +
        "w AS (SELECT a.v AS id_a, b.v AS id_b, count(*) AS cn FROM cap a " +
        "JOIN cap b ON a.u = b.u AND a.v < b.v GROUP BY 1, 2), " +
        "ne AS (SELECT w.id_a, w.id_b, w.cn FROM w LEFT JOIN und " +
        "ON und.u = w.id_a AND und.v = w.id_b WHERE und.u IS NULL), " +
        "sc AS (SELECT id_a, id_b, CAST(cn AS BIGINT) AS cn, " +
        "da.degree AS deg_a, db.degree AS deg_b, " +
        "CAST((cn * 1000000) // (da.degree + db.degree - cn) AS BIGINT) AS jaccard_ppm " +
        "FROM ne JOIN dg da ON da.node = id_a JOIN dg db ON db.node = id_b) " +
        "SELECT id_a, id_b, cn, deg_a, deg_b, jaccard_ppm FROM sc " +
        "ORDER BY jaccard_ppm DESC, cn DESC, id_a, id_b LIMIT 20")),

    // PERSONALIZED PageRank from seed domains over the same host graph:
    // teleport mass lands only on the seeds (one exact integer floor for
    // the per-seed share), rank = proximity to the trusted set — the
    // crawl-frontier prioritizer / TrustRank-style spam demoter
    QuerySpec("graph_ppr_seeds", (s, dir) =>
      PageRank.runPersonalized(domainEdges(s, dir), "src", "dst",
          iters = 3, seeds = pprSeeds)
        .select(col("node").as("host"), col("rank_u12")),
      // same edge set, teleport restricted to the seed hosts: the per-seed
      // share mirrors the engine's nested integer floors
      // (15·10¹²·N) // 100 // |S|, and r0 IS the teleport vector
      pprSqlOver(domainEdgeCtes, pprSeeds,
      nodeAlias = "host")))
}
