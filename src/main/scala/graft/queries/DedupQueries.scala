package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions._
import Shared._

/** Near-duplicate detection (`dedup_`) and media fingerprint dedup (`media_`). */
object DedupQueries {

  private val lshCurveConfigs =                   // dedup_lsh_curve
    Seq((16, 4), (8, 8), (32, 2), (4, 16))
  private val lshCurveSteps = 20
  private val sweepThresholds =                   // dedup_threshold_sweep
    Seq(0.25, 0.5, 0.75, 0.9)
  private val vadThresh = 16384L                  // media_audio_segments
  private val vadFrame = 8
  private val containThreshPpm = 600000L          // dedup_containment
  // media_{phash,audio,video}_dedup: the same hot-bucket cap as the text
  // LSH paths, mirrored in the oracles — an all-alike fingerprint family
  // (synthetic generators are degenerately self-similar; boilerplate
  // jingles/test-cards in the wild) otherwise makes the banded join's
  // pair OUTPUT quadratic (measured 57–75× at 10× data uncapped)
  private val mediaBandCap = 100

  /** DuckDB CTE chain mirroring [[graft.functions.Dedup.paragraphFingerprints]]
    * (blank-line segments, 40-token block fallback, md5 fingerprints);
    * yields CTE `fps(doc_id, fp)`. Shared by both paragraph oracles. */
  private val sqlParagraphFps =
    "segs AS (SELECT doc_id, unnest(string_split_regex(text, '\\n{2,}')) AS seg FROM documents), " +
      "ptoks AS (SELECT doc_id, list_filter(string_split_regex(lower(seg), '\\s+'), x -> len(x) > 0) AS tk FROM segs), " +
      "nz AS (SELECT doc_id, tk FROM ptoks WHERE len(tk) > 0), " +
      "blocks AS (SELECT doc_id, unnest(range(((len(tk) - 1) // 40) + 1)) AS gi, tk FROM nz), " +
      "fps AS (SELECT doc_id, md5(array_to_string(tk[(gi*40+1):(gi*40+40)], ' ')) AS fp FROM blocks)"

  /** DuckDB twin of the engine's banded fingerprint pairing
    * ([[graft.functions.Dedup.simhashPairs]] with `maxBucket =
    * mediaBandCap`): 4 × 16-bit band keys per 60-bit hash, postings in
    * over-cap (band, key) buckets dropped — the SAME hot-bucket screen
    * the engine applies — candidates = distinct pairs sharing a
    * surviving bucket, then the hamming ≤ 3 filter on full hashes.
    * `hashCtes` must end with a CTE `ph(id, h)`. Shared by the three
    * media dedup oracles so the banding/cap SQL cannot drift. */
  private def sqlBandedHashPairs(hashCtes: String): String =
    hashCtes + ", " +
      "keys AS (SELECT id, h, band, (h >> (16*band)) & 65535 AS bk " +
      "FROM (SELECT id, h, unnest(range(0, 4)) AS band FROM ph)), " +
      "sized AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band, bk) AS pn FROM keys) " +
      s"WHERE pn <= $mediaBandCap), " +
      "cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.h AS ha, b.h AS hb " +
      "FROM sized a JOIN sized b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id) " +
      "SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming " +
      "FROM cand WHERE bit_count(xor(ha, hb)) <= 3"

  /** Mirror of `Similarity.embeddingDupPairs(bits = 6, dim = 64)`. */
  private def rhpLshOracleSql: String =
    rhpLshPairPrefixSql +
      " SELECT id_a, id_b, round(sim, 6) AS sim FROM s WHERE sim >= 0.4"

  /** Mirror of `Dedup.candidateEval(minhash-LSH candidates, exact-Jaccard
    * truth)`: both legs reuse their standalone oracles as CTEs; the ppm
    * metrics are true integer division in both engines. */
  private def dedupEvalOracleSql: String =
    s"WITH cand AS ($minhashLshOracleSql), " +
      s"truth AS ($jaccardPairsOracleSql), " +
      "counts AS (SELECT (SELECT count(*) FROM cand) AS n_cand, " +
      "(SELECT count(*) FROM truth) AS n_truth, " +
      "(SELECT count(*) FROM cand c JOIN truth t2 " +
      "ON c.id_a = t2.id_a AND c.id_b = t2.id_b) AS n_hit) " +
      "SELECT n_cand, n_truth, n_hit, " +
      "CASE WHEN n_cand = 0 THEN 0 ELSE (1000000 * n_hit) // n_cand END AS precision_ppm, " +
      "CASE WHEN n_truth = 0 THEN 0 ELSE (1000000 * n_hit) // n_truth END AS recall_ppm " +
      "FROM counts"

  /** Mirror of the `dedup_minhash_lsh` query: md5-prefix long
    * per shingle, the 64-function LCG family (constants from
    * Dedup.Md5Hasher.saltConsts baked into the SQL text), md5-hashed band
    * keys over 4-element signature slices, 1000-cap, in-bucket pairs. */
  private def minhashLshOracleSql: String = {
    val minCols = (0 until 64).map { i =>
      val (a, b) = graft.functions.Dedup.Md5Hasher.saltConsts(i)
      s"min(($a * (h & 4294967295) + $b) % 2147483647) AS m$i"
    }.mkString(", ")
    val sigList = (0 until 64).map(i => s"m$i").mkString("[", ", ", "]")
    val bandKey = sqlMd5Long(
      "array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')" +
        " || chr(1) || b::VARCHAR")
    s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
      s"sh AS (SELECT doc_id, $sqlShingles3 AS shs FROM t), " +
      "posting AS (SELECT doc_id, unnest(shs) AS s FROM sh), " +
      s"hashed AS (SELECT doc_id, ${sqlMd5Long("s")} AS h FROM posting), " +
      s"sigs AS (SELECT doc_id, $minCols FROM hashed GROUP BY doc_id), " +
      s"sigl AS (SELECT doc_id, $sigList AS sig FROM sigs), " +
      s"bands AS (SELECT doc_id, b, $bandKey AS band_key " +
      "FROM sigl, range(0, 16) r(b)), " +
      "capped AS (SELECT doc_id, b, band_key FROM (SELECT *, " +
      "count(*) OVER (PARTITION BY b, band_key) AS n FROM bands) WHERE n <= 1000) " +
      "SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b FROM capped a " +
      "JOIN capped c ON a.b = c.b AND a.band_key = c.band_key " +
      "AND a.doc_id < c.doc_id"
  }

  /** Mirror of `dedup_lsh_delta`: the [[minhashLshOracleSql]] CTEs with the
    * stable snapshot bucket threaded through, caps taken over the MERGED
    * index (both snapshots — the engine's re-cap-on-merge rule), and only
    * pairs with at least one new-side (bk ≥ 80) member emitted. */
  private def lshDeltaOracleSql: String = {
    val minCols = (0 until 64).map { i =>
      val (a, b) = graft.functions.Dedup.Md5Hasher.saltConsts(i)
      s"min(($a * (h & 4294967295) + $b) % 2147483647) AS m$i"
    }.mkString(", ")
    val sigList = (0 until 64).map(i => s"m$i").mkString("[", ", ", "]")
    val bandKey = sqlMd5Long(
      "array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')" +
        " || chr(1) || b::VARCHAR")
    "WITH d AS (SELECT doc_id, text, " +
      "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk FROM documents), " +
      s"t AS (SELECT doc_id, bk, $sqlToks AS toks FROM d), " +
      s"sh AS (SELECT doc_id, bk, $sqlShingles3 AS shs FROM t), " +
      "posting AS (SELECT doc_id, bk, unnest(shs) AS s FROM sh), " +
      s"hashed AS (SELECT doc_id, bk, ${sqlMd5Long("s")} AS h FROM posting), " +
      s"sigs AS (SELECT doc_id, bk, $minCols FROM hashed GROUP BY doc_id, bk), " +
      s"sigl AS (SELECT doc_id, bk, $sigList AS sig FROM sigs), " +
      s"bands AS (SELECT doc_id, bk, b, $bandKey AS band_key " +
      "FROM sigl, range(0, 16) r(b)), " +
      "capped AS (SELECT doc_id, bk, b, band_key FROM (SELECT *, " +
      "count(*) OVER (PARTITION BY b, band_key) AS n FROM bands) WHERE n <= 1000) " +
      "SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b FROM capped a " +
      "JOIN capped c ON a.b = c.b AND a.band_key = c.band_key " +
      "AND a.doc_id < c.doc_id WHERE a.bk >= 80 OR c.bk >= 80"
  }

  /** Mirror of `dedup_lsh_delete`: same MinHash/banding CTEs, bucket
    * sizes BEFORE (full index) and AFTER (survivors, bk < 60), pairs
    * emitted only from buckets crossing over-cap(2) → within-cap. */
  private def lshDeleteOracleSql: String = {
    val minCols = (0 until 64).map { i =>
      val (a, b) = graft.functions.Dedup.Md5Hasher.saltConsts(i)
      s"min(($a * (h & 4294967295) + $b) % 2147483647) AS m$i"
    }.mkString(", ")
    val sigList = (0 until 64).map(i => s"m$i").mkString("[", ", ", "]")
    val bandKey = sqlMd5Long(
      "array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')" +
        " || chr(1) || b::VARCHAR")
    "WITH d AS (SELECT doc_id, text, " +
      "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk FROM documents), " +
      s"t AS (SELECT doc_id, bk, $sqlToks AS toks FROM d), " +
      s"sh AS (SELECT doc_id, bk, $sqlShingles3 AS shs FROM t), " +
      "posting AS (SELECT doc_id, bk, unnest(shs) AS s FROM sh), " +
      s"hashed AS (SELECT doc_id, bk, ${sqlMd5Long("s")} AS h FROM posting), " +
      s"sigs AS (SELECT doc_id, bk, $minCols FROM hashed GROUP BY doc_id, bk), " +
      s"sigl AS (SELECT doc_id, bk, $sigList AS sig FROM sigs), " +
      s"bands AS (SELECT doc_id, bk, b, $bandKey AS band_key " +
      "FROM sigl, range(0, 16) r(b)), " +
      "sz AS (SELECT b, band_key, count(*) AS nb, " +
      "count(CASE WHEN bk < 60 THEN 1 END) AS na FROM bands GROUP BY 1, 2), " +
      "crossed AS (SELECT b, band_key FROM sz " +
      "WHERE nb > 2 AND na <= 2 AND na >= 2), " +
      "rem AS (SELECT doc_id, b, band_key FROM bands WHERE bk < 60) " +
      "SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b FROM rem a " +
      "JOIN rem c ON a.b = c.b AND a.band_key = c.band_key " +
      "AND a.doc_id < c.doc_id " +
      "JOIN crossed x ON a.b = x.b AND a.band_key = x.band_key " +
      "ORDER BY id_a, id_b"
  }

  /** Mirror of the `dedup_simhash` query: md5-prefix long per
    * token, 64 bit-votes, 4×16-bit banding, 1000-cap, Hamming ≤ 8. Bits
    * ≥ 60 of the 60-bit hash are always 0, so their votes are uniformly
    * −1 and the `i < 60` guard never changes a set bit — it only keeps the
    * BIGINT shift in range. */
  private def simhashOracleSql: String =
    s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
      "tok AS (SELECT doc_id, unnest(toks) AS tk FROM t), " +
      s"h AS (SELECT doc_id, ${sqlMd5Long("tk")} AS h FROM tok), " +
      "v AS (SELECT doc_id, i, sum(CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END) AS v " +
      "FROM h, range(0, 64) r(i) GROUP BY doc_id, i), " +
      "fp AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 AND i < 60 " +
      "THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sh64 FROM v GROUP BY doc_id), " +
      "banded AS (SELECT doc_id, sh64, b, ((sh64 >> CAST(b*16 AS INTEGER)) & 65535) AS band_key " +
      "FROM fp, range(0, 4) r2(b)), " +
      "capped AS (SELECT doc_id, sh64, b, band_key FROM (SELECT *, " +
      "count(*) OVER (PARTITION BY b, band_key) AS n FROM banded) WHERE n <= 1000), " +
      "pairs AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, " +
      "a.sh64 AS sa, c.sh64 AS sb FROM capped a JOIN capped c " +
      "ON a.b = c.b AND a.band_key = c.band_key AND a.doc_id < c.doc_id) " +
      "SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming " +
      "FROM pairs WHERE bit_count(xor(sa, sb)) <= 8"

  val all: Seq[QuerySpec] = Seq(
    // ---- training-data ops: dedup ---------------------------------------
    QuerySpec("dedup_exact", (s, dir) => driverSafe(
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")),
      (s"WITH t AS (SELECT doc_id, array_to_string($sqlToks, ' ') AS norm " +
        "FROM documents) " +
        "SELECT md5(norm) AS content_md5, min(doc_id) AS keep_id, " +
        "count(*) AS group_size, " +
        "array_to_string(list_transform(list_sort(list(doc_id)), " +
        "x -> CAST(x AS VARCHAR)), '|') AS member_ids " +
        "FROM t GROUP BY md5(norm)")),

    // the one-row business case for dedup: redundant docs/chars if only
    // the min-id member of each exact group is kept
    QuerySpec("dedup_savings", (s, dir) =>
      Dedup.exactDupSavings(t(s, dir, "documents"), "doc_id", "text",
        "n_chars"),
      // min(row(id, chars)) ≡ the engine's struct min for the kept member
      (s"WITH t AS (SELECT doc_id, n_chars, array_to_string($sqlToks, ' ') AS norm FROM documents), " +
        "g AS (SELECT md5(norm) AS fp, count(*) AS n, " +
        "sum(CAST(n_chars AS HUGEINT)) AS chars, " +
        "arg_min(n_chars, doc_id) AS keep_chars FROM t GROUP BY 1) " +
        "SELECT CAST(sum(n) AS BIGINT) AS n_docs, " +
        "CAST(sum(n - 1) AS BIGINT) AS n_redundant_docs, " +
        "CAST(sum(chars) AS BIGINT) AS total_chars, " +
        "CAST(sum(chars - keep_chars) AS BIGINT) AS redundant_chars, " +
        "CAST(CASE WHEN sum(chars) > 0 THEN (sum(chars - keep_chars) * 1000000) // sum(chars) " +
        "ELSE 0 END AS BIGINT) AS savings_ppm FROM g")),

    // exact-group size histogram in log2 buckets — mega-template vs
    // many-small-copies shape report
    QuerySpec("dedup_group_hist", (s, dir) =>
      Dedup.groupSizeHistogram(t(s, dir, "documents"), "text"),
      (s"WITH t AS (SELECT array_to_string($sqlToks, ' ') AS norm FROM documents), " +
        "g AS (SELECT md5(norm) AS fp, count(*) AS n FROM t GROUP BY 1) " +
        "SELECT CAST(len(bin(n)) AS BIGINT) AS bucket, count(*) AS n_groups, " +
        "CAST(sum(n) AS BIGINT) AS n_docs, min(n) AS min_size, " +
        "max(n) AS max_size FROM g GROUP BY 1")),

    // case/punctuation-insensitive dedup groups + how many DISTINCT exact
    // fingerprints each normalized group collapsed (what normalization
    // bought over dedup_exact) — same one-shuffle shape
    QuerySpec("dedup_normalized", (s, dir) => driverSafe(
      Dedup.normalizedGroups(t(s, dir, "documents"), "doc_id", "text")),
      // same aggressive normalization chain as normalizedFingerprint (the
      // regex is RE2-compatible by design); n_variants counts distinct
      // PLAIN exact fingerprints inside each normalized group
      (s"WITH t AS (SELECT doc_id, array_to_string(list_filter(" +
        "string_split_regex(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), " +
        "'\\s+'), x -> len(x) > 0), ' ') AS norm, " +
        s"array_to_string($sqlToks, ' ') AS exact_norm FROM documents) " +
        "SELECT md5(norm) AS norm_md5, min(doc_id) AS keep_id, " +
        "count(*) AS group_size, " +
        "count(DISTINCT md5(exact_norm)) AS n_variants, " +
        "array_to_string(list_transform(list_sort(list(doc_id)), " +
        "x -> CAST(x AS VARCHAR)), '|') AS member_ids " +
        "FROM t GROUP BY md5(norm)")),

    QuerySpec("dedup_jaccard", (s, dir) => {
      val docs = docsShingled(s, dir)
      Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500)
    },
      jaccardPairsOracleSql),

    // EXACT similarity join by prefix filtering (SSJoin/PPJoin): candidates
    // only from each doc's rarest n−⌈t·n⌉+1 shingles — LOSSLESS by theorem,
    // so the oracle brute-forces ALL pairs with NO posting cap and
    // hash-equality certifies the filter dropped nothing (the no-recall-
    // knob alternative to dedup_jaccard's capped inverted index)
    QuerySpec("dedup_jaccard_exactjoin", (s, dir) => {
      val docs = docsShingled(s, dir)
      Dedup.prefixFilterJaccardPairs(docs, "doc_id", "sh", 0.5)
    },
      // deliberately NO posting cap anywhere: the brute-force truth is what
      // proves the engine's prefix filter lossless
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS shs FROM t), " +
        "sizes AS (SELECT doc_id, len(shs) AS n FROM sh), " +
        "posting AS (SELECT doc_id, unnest(shs) AS s FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
        "FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "scored AS (SELECT id_a, id_b, CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard " +
        "FROM pairs JOIN sizes na ON id_a = na.doc_id JOIN sizes nb ON id_b = nb.doc_id) " +
        "SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM scored WHERE jaccard >= 0.5")),

    // near-dup incidence per source: share of each source's docs with at
    // least one verified near-dup — the "which crawl to dedup first" rank
    QuerySpec("dedup_rate_by_source", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docsShingled(s, dir),
        "doc_id", "sh", 0.5, maxPosting = 500)
      val dup = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
        .withColumn("_dup", lit(1L))
      docs.join(dup, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("_dup")).as("n_dup_docs"),
          Sampling.intDivExact(
            count(col("_dup")).cast("decimal(38,0)") * lit(1000000L),
            count(lit(1))).as("dup_ppm"))
    },
      (s"WITH p AS ($jaccardPairsOracleSql), " +
        "dup AS (SELECT DISTINCT unnest([id_a, id_b]) AS doc_id FROM p) " +
        "SELECT d.source, count(*) AS n_docs, " +
        "count(dup.doc_id) AS n_dup_docs, " +
        "(count(dup.doc_id) * 1000000) // count(*) AS dup_ppm " +
        "FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id GROUP BY 1")),

    // cross-source duplication provenance: near-dup pairs lifted to an
    // unordered source×source matrix (which mirrors copy from which) —
    // the audit run before paying for document-level dedup of a crawl
    QuerySpec("dedup_source_matrix", (s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docsShingled(s, dir),
        "doc_id", "sh", 0.5, maxPosting = 500)
      Dedup.crossSourceMatrix(pairs, "id_a", "id_b", d, "doc_id", "source")
    },
      (s"WITH p AS ($jaccardPairsOracleSql), " +
        "lab AS (SELECT id_a, id_b, " +
        "least(da.source, db.source) AS source_a, " +
        "greatest(da.source, db.source) AS source_b " +
        "FROM p JOIN documents da ON p.id_a = da.doc_id " +
        "JOIN documents db ON p.id_b = db.doc_id), " +
        "cells AS (SELECT source_a, source_b, unnest([id_a, id_b]) AS doc " +
        "FROM lab) " +
        "SELECT source_a, source_b, count(*) // 2 AS n_pairs, " +
        "count(DISTINCT doc) AS n_docs " +
        "FROM cells GROUP BY source_a, source_b")),

    // asymmetric containment over the same inverted index: the snippet /
    // quote-farm detector (a short doc inside a long one has tiny jaccard
    // but containment 1.0); directed rows, integer floor-ppm score
    QuerySpec("dedup_containment", (s, dir) => {
      val docs = docsShingled(s, dir)
      Dedup.containmentPairs(docs, "doc_id", "sh", containThreshPpm,
        maxPosting = 500)
    },
      // same CTE prefix as the jaccard oracle (postings capped identically),
      // then both directions with integer floor-ppm containment
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS shs FROM t), " +
        "sizes AS (SELECT doc_id, len(shs) AS n FROM sh), " +
        "posting AS (SELECT doc_id, unnest(shs) AS s FROM sh), " +
        "sized AS (SELECT doc_id, s FROM (SELECT *, count(*) OVER (PARTITION BY s) AS pn FROM posting) WHERE pn <= 500), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
        "FROM sized a JOIN sized b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), " +
        "pf AS (SELECT id_a, id_b, common, na.n AS n_a, nb.n AS n_b " +
        "FROM pairs JOIN sizes na ON id_a = na.doc_id JOIN sizes nb ON id_b = nb.doc_id), " +
        "dir AS (SELECT id_a AS src, id_b AS dst, (1000000 * common) // n_a AS cont_ppm FROM pf " +
        "UNION ALL SELECT id_b, id_a, (1000000 * common) // n_b FROM pf) " +
        s"SELECT src, dst, CAST(cont_ppm AS BIGINT) AS cont_ppm FROM dir WHERE cont_ppm >= $containThreshPpm")),

    // EXACT containment join via one-sided prefix filtering: src's rarest
    // n−⌈t·n⌉+1 shingles must hit dst's FULL set — lossless by theorem,
    // capless brute-force oracle certifies it (the audit-grade companion
    // of dedup_containment's capped screen; directions emerge from each
    // side's own prefix)
    QuerySpec("dedup_containment_exactjoin", (s, dir) => {
      val docs = docsShingled(s, dir)
      Dedup.prefixFilterContainmentPairs(docs, "doc_id", "sh",
        containThreshPpm)
    },
      // the capless truth: same CTEs as dedup_containment but NO posting
      // cap — equality proves the one-sided prefix filter lossless
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS shs FROM t), " +
        "sizes AS (SELECT doc_id, len(shs) AS n FROM sh), " +
        "posting AS (SELECT doc_id, unnest(shs) AS s FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
        "FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), " +
        "pf AS (SELECT id_a, id_b, common, na.n AS n_a, nb.n AS n_b " +
        "FROM pairs JOIN sizes na ON id_a = na.doc_id JOIN sizes nb ON id_b = nb.doc_id), " +
        "dir AS (SELECT id_a AS src, id_b AS dst, (1000000 * common) // n_a AS cont_ppm FROM pf " +
        "UNION ALL SELECT id_b, id_a, (1000000 * common) // n_b FROM pf) " +
        s"SELECT src, dst, CAST(cont_ppm AS BIGINT) AS cont_ppm FROM dir WHERE cont_ppm >= $containThreshPpm")),

    // token-weighted near-dup: tf-idf cosine over the df-capped vocabulary
    // — rare tokens dominate (catches boilerplate + unique payload), idf
    // in integer micro-units so every sum is order-independent
    QuerySpec("dedup_tfidf_cosine", (s, dir) => {
      val docs = tFan(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      Dedup.tfidfCosinePairs(docs, "doc_id", "toks",
        threshold = 0.8, maxPosting = 500)
    },
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "tfc AS (SELECT doc_id, tok, count(*) AS tf FROM " +
        "(SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2), " +
        "kept AS (SELECT tok FROM tfc GROUP BY tok HAVING count(*) <= 500), " +
        "k AS (SELECT tfc.* FROM tfc JOIN kept USING (tok)), " +
        "dfc AS (SELECT tok, count(*) AS df FROM k GROUP BY tok), " +
        "n AS (SELECT count(DISTINCT doc_id) AS nn FROM documents), " +
        "w AS (SELECT k.doc_id, k.tok, k.tf * CAST(round(ln((n.nn + 1.0) / (dfc.df + 1.0)) * 1000000, 0) AS BIGINT) AS w_us " +
        "FROM k JOIN dfc ON k.tok = dfc.tok, n), " +
        "norms AS (SELECT doc_id, sqrt(CAST(sum(CAST(w_us AS HUGEINT) * w_us) AS DOUBLE)) AS norm " +
        "FROM w GROUP BY doc_id), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "sum(CAST(a.w_us AS HUGEINT) * b.w_us) AS num " +
        "FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "c AS (SELECT id_a, id_b, CAST(num AS DOUBLE) / (na.norm * nb.norm) AS cos " +
        "FROM pairs JOIN norms na ON na.doc_id = pairs.id_a " +
        "JOIN norms nb ON nb.doc_id = pairs.id_b) " +
        "SELECT id_a, id_b, round(cos, 6) AS cos FROM c WHERE cos >= 0.8")),

    // cross-document repeated spans (Lee et al. 2022): per doc, how many
    // of its distinct 5-token windows appear in another document
    QuerySpec("dedup_substring", (s, dir) =>
      Dedup.substringDupReport(t(s, dir, "documents"), "doc_id", "text", // fan A/B: 0.58x fanned
        n = 5),
      // distinct 5-token windows → md5-prefix 60-bit keys (sqlMd5Long, the
      // Md5Hasher twin) → doc-frequency ≥ 2 = shared; per-doc counts from
      // one left join, exactly like the engine's plan
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "w AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks) - 3), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]) END) AS ws FROM t), " +
        s"ex AS (SELECT doc_id, ${sqlMd5Long("u")} AS h FROM " +
        "(SELECT doc_id, unnest(ws) AS u FROM w)), " +
        "shared AS (SELECT h FROM ex GROUP BY h HAVING count(*) >= 2), " +
        "hits AS (SELECT e.doc_id, count(*) AS n_shared FROM ex e JOIN shared s ON e.h = s.h GROUP BY e.doc_id) " +
        "SELECT b.doc_id, CAST(len(b.ws) AS BIGINT) AS n_win, " +
        "CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared, " +
        "round(CASE WHEN len(b.ws) > 0 THEN COALESCE(n_shared, 0)::DOUBLE / len(b.ws) ELSE 0.0 END, 6) AS shared_ratio " +
        "FROM w b LEFT JOIN hits USING (doc_id)")),

    // paragraph-level near-dup, the middle granularity: blank-line blocks
    // (over-long segments split into fixed 40-token blocks), md5
    // fingerprints, per-doc cross-document duplicated-paragraph share —
    // the boilerplate-paragraph killer; linear group-bys, no pair join
    QuerySpec("dedup_paragraph", (s, dir) =>
      Dedup.paragraphDupReport(tFan(s, dir, "documents"), "doc_id", "text"),
      // paragraphs: blank-line segments, 40-token block fallback, md5 of
      // the space-joined block — the identical slicing the engine codegens
      (s"WITH $sqlParagraphFps, " +
        "shared AS (SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) >= 2), " +
        "hits AS (SELECT f.doc_id, count(*) AS n_dup FROM fps f JOIN shared s ON f.fp = s.fp GROUP BY 1), " +
        "tot AS (SELECT doc_id, count(*) AS n_par FROM fps GROUP BY 1) " +
        "SELECT t.doc_id, CAST(n_par AS BIGINT) AS n_paragraphs, " +
        "CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_paragraphs, " +
        "CAST((COALESCE(n_dup, 0) * 1000000) // n_par AS BIGINT) AS dup_share_ppm " +
        "FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id")),

    // its provenance twin: every shared paragraph's spread and id bracket
    QuerySpec("dedup_paragraph_prov", (s, dir) =>
      Dedup.paragraphProvenance(t(s, dir, "documents"), "doc_id", "text"),
      (s"WITH $sqlParagraphFps " +
        "SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_occurrences, " +
        "CAST(min(doc_id) AS BIGINT) AS first_doc_id, " +
        "CAST(max(doc_id) AS BIGINT) AS last_doc_id " +
        "FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) >= 2")),

    // EXACT substring dedup (Lee et al. 2022 ExactSubstr semantics), the
    // audit-grade companion to dedup_substring: maximal covered runs with
    // exact token extents, from fixed-depth suffix-prefix buckets keyed
    // by FULL md5 (no 60-bit screen); corpus-wide occurrence counts, so
    // intra-doc verbatim repeats count as duplication
    QuerySpec("dedup_substring_exact", (s, dir) =>
      Dedup.exactSubstrRuns(tFan(s, dir, "documents"), "doc_id", "text",
        minLen = 5),
      // exact-substring runs: same positioned windows keyed by FULL md5,
      // occurrence (not doc) counts, then textbook island detection over
      // duplicated window starts — gap > 5 opens a new run; run_len =
      // last_start − first_start + 5 (union of length-5 intervals)
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "wins AS (SELECT doc_id, i - 1 AS p, " +
        "md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]) AS h " +
        "FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM t)), " +
        "dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2), " +
        "st AS (SELECT doc_id, p FROM wins JOIN dup USING (h)), " +
        "g AS (SELECT doc_id, p, CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 5 THEN 1 ELSE 0 END AS nw " +
        "FROM st WINDOW w AS (PARTITION BY doc_id ORDER BY p)), " +
        "r AS (SELECT doc_id, p, sum(nw) OVER (PARTITION BY doc_id ORDER BY p) AS run FROM g) " +
        "SELECT doc_id, CAST(min(p) AS BIGINT) AS run_start, " +
        "CAST(max(p) - min(p) + 5 AS BIGINT) AS run_len, " +
        "count(*) AS n_dup_windows FROM r GROUP BY doc_id, run")),

    // content-defined chunking (rsync/LBFS, Muthitacharoen et al.
    // SOSP'01): variable chunks cut where the rolling 3-token hash ≡ 0
    // mod 16, so boundaries move with the content and near-identical
    // revisions share every untouched chunk
    QuerySpec("dedup_cdc", (s, dir) =>
      Dedup.cdcDupReport(tFan(s, dir, "documents"), "doc_id", "text",
        window = 3, divisor = 16),
      // CDC: boundary after token i when md5Long(3-gram ending at i) % 16
      // = 0; chunks = spans between boundaries; shared = chunk fingerprint
      // in ≥ 2 distinct docs — the same per-row slicing the engine codegens
      (s"WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "c AS (SELECT doc_id, toks, CASE WHEN len(toks) < 3 THEN CAST([] AS BIGINT[]) " +
        s"ELSE list_filter(range(3, len(toks) + 1), i -> (${sqlMd5Long("toks[i-2] || ' ' || toks[i-1] || ' ' || toks[i]")} % 16) = 0) END AS bpos FROM d), " +
        "e AS (SELECT doc_id, toks, " +
        "list_concat([CAST(1 AS BIGINT)], list_transform(bpos, b -> b + 1)) AS starts, " +
        "list_concat(bpos, [CAST(len(toks) AS BIGINT)]) AS ends FROM c), " +
        "ch AS (SELECT doc_id, unnest(list_filter(list_transform(range(1, len(starts) + 1), " +
        "j -> CASE WHEN starts[j] <= ends[j] THEN array_to_string(list_slice(toks, starts[j], ends[j]), ' ') END), " +
        "x -> x IS NOT NULL)) AS chunk FROM e), " +
        "f AS (SELECT doc_id, md5(chunk) AS fp FROM ch), " +
        "fc AS (SELECT fp, 1 AS shared FROM " +
        "(SELECT fp, count(DISTINCT doc_id) AS df FROM f GROUP BY fp) WHERE df >= 2), " +
        "per AS (SELECT doc_id, count(*) AS n_chunks, count(shared) AS n_shared " +
        "FROM f LEFT JOIN fc USING (fp) GROUP BY doc_id) " +
        "SELECT d2.doc_id, COALESCE(n_chunks, 0) AS n_chunks, " +
        "COALESCE(n_shared, 0) AS n_shared, " +
        "round(CASE WHEN COALESCE(n_chunks, 0) > 0 THEN COALESCE(n_shared, 0)::DOUBLE / n_chunks ELSE 0.0 END, 6) AS shared_ratio " +
        "FROM (SELECT doc_id FROM documents) d2 LEFT JOIN per USING (doc_id)")),

    // incremental exact-dup maintenance: group STATE (md5, keep_id,
    // group_size — array-free, persistable) built per snapshot and
    // merged (min/sum are associative, so append ∪ ≡ rebuild EXACTLY);
    // the output compares the merged state against an independent
    // whole-corpus rebuild row-for-row
    QuerySpec("dedup_groups_delta", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = Sampling.stableBucket(col("doc_id"))
      val merged = Dedup.mergeGroupsState(
        Dedup.exactGroupsState(docs.filter(bucket < 80), "doc_id", "text"),
        Dedup.exactGroupsState(docs.filter(bucket >= 80), "doc_id", "text"))
      val full = Dedup.exactGroupsState(docs, "doc_id", "text")
        .select(col("content_md5"), col("keep_id").as("_fk"),
          col("group_size").as("_fs"))
      merged.join(full, Seq("content_md5"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("group_size")).as("n_docs"),
          count(when(col("keep_id") === col("_fk") &&
            col("group_size") === col("_fs"), 1)).as("n_merge_exact"))
    },
      // per-snapshot states (same md5 bucket split as corpus_delta),
      // least/sum full-outer merge, independent whole-corpus rebuild
      (s"WITH t AS (SELECT doc_id, ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk, $sqlToks AS toks FROM documents), " +
        "fp AS (SELECT doc_id, bk, md5(COALESCE(array_to_string(toks, ' '), '')) AS f FROM t), " +
        "sa AS (SELECT f, min(doc_id) AS k, count(*) AS c FROM fp WHERE bk < 80 GROUP BY f), " +
        "sb AS (SELECT f, min(doc_id) AS k, count(*) AS c FROM fp WHERE bk >= 80 GROUP BY f), " +
        "m AS (SELECT COALESCE(sa.f, sb.f) AS f, least(sa.k, sb.k) AS k, COALESCE(sa.c, 0) + COALESCE(sb.c, 0) AS c FROM sa FULL OUTER JOIN sb ON sa.f = sb.f), " +
        "fl AS (SELECT f, min(doc_id) AS k, count(*) AS c FROM fp GROUP BY f) " +
        "SELECT count(*) AS n_groups, CAST(sum(m.c) AS BIGINT) AS n_docs, " +
        "count(CASE WHEN fl.k = m.k AND fl.c = m.c THEN 1 END) AS n_merge_exact " +
        "FROM m JOIN fl ON m.f = fl.f")),

    // the TAKEDOWN path of the exact-dup state: state(all) ⊖ deleted
    // (bucket >= 80) must equal a rebuild over the survivors — including
    // the keep_id REPAIR where the canonical min-id member itself was
    // deleted (re-min'd from the survivors, affected groups only). The
    // oracle rebuilds from the remaining docs directly, so hash equality
    // IS the state ⊖ delta ≡ rebuild-without-docs contract
    QuerySpec("dedup_groups_delete", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = Sampling.stableBucket(col("doc_id"))
      Dedup.deleteFromGroupsState(
          Dedup.exactGroupsState(docs, "doc_id", "text"),
          docs.filter(bucket >= 80), "doc_id", "text",
          docs.filter(bucket < 80))
        .orderBy("content_md5")
    },
      // direct rebuild over the survivors — hash equality against the
      // engine's subtract-and-repair path IS the delete contract
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents " +
        "WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80) " +
        "SELECT md5(COALESCE(array_to_string(toks, ' '), '')) AS content_md5, " +
        "min(doc_id) AS keep_id, count(*) AS group_size " +
        "FROM t GROUP BY 1 ORDER BY content_md5")),

    // the takedown path of the NEAR-dup state: deleting 40% of the
    // corpus drops some LSH buckets back UNDER the (tiny, 2-member) cap
    // — the resurfaced pairs are exactly what a rebuild over the
    // survivors would emit that no previous run ever did; the oracle
    // recomputes before/after bucket sizes and the crossing pairs
    QuerySpec("dedup_lsh_delete", (s, dir) => {
      val docs = docsShingled(s, dir)
      val banded = Dedup.lshBands(
        Dedup.minhashSignatures(docs, "doc_id", "sh", 64),
        "doc_id", "sig", bands = 16, rowsPerBand = 4)
      val deleted = t(s, dir, "documents")
        .filter(Sampling.stableBucket(col("doc_id")) >= 60)
        .select(col("doc_id"))
      Dedup.lshDeleteCandidates(banded, deleted, "doc_id", maxBucket = 2)
        .orderBy("id_a", "id_b")
    },
      lshDeleteOracleSql),

    // incremental NEAR-dup candidates — the LSH append path beside the
    // exact-dup state above: the banded-signature frame is the state,
    // hot-bucket caps re-taken on the MERGED index (the one
    // non-compositional step), and only pairs touching the new snapshot
    // are emitted — the old corpus is never re-paired against itself
    QuerySpec("dedup_lsh_delta", (s, dir) => {
      val docs = docsShingled(s, dir)
      val bucket = Sampling.stableBucket(col("doc_id"))
      def banded(d: DataFrame) = Dedup.lshBands(
        Dedup.minhashSignatures(d, "doc_id", "sh", 64),
        "doc_id", "sig", bands = 16, rowsPerBand = 4)
      Dedup.lshAppendCandidates(
        banded(docs.filter(bucket < 80)),
        banded(docs.filter(bucket >= 80)), "doc_id")
    },
      lshDeltaOracleSql),

    // full dedup pipeline: verified pairs → connected components (groups)
    QuerySpec("dedup_groups", (s, dir) => {
      val docs = docsShingled(s, dir)
      Dedup.componentsFromPairs(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        iters = 10)
    },
      s"$ccCompPrefixSql SELECT id, comp FROM comp"),

    // the kernels hash with md5-prefix longs (Dedup.Md5Hasher), which the
    // oracle recomputes exactly
    QuerySpec("dedup_minhash_lsh", (s, dir) => {
      val docs = docsShingled(s, dir)
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "sh", 64)
      Dedup.lshCandidates(
        Dedup.lshBands(sigs, "doc_id", "sig", bands = 16, rowsPerBand = 4),
        "doc_id")
    },
      minhashLshOracleSql),

    // analytic LSH S-curves for the banding grid — picks (bands, rows)
    // BEFORE data runs; dedup_eval_report is the empirical after-check
    QuerySpec("dedup_lsh_curve", (s, dir) =>
      Dedup.lshTuningCurve(s, lshCurveConfigs, lshCurveSteps),
      // same left-associative repeated-multiplication expansion of both
      // powers — never pow(), whose libm rounding differs across engines
      {
      val s = s"(CAST(i AS DOUBLE) / $lshCurveSteps.0)"
      val arms = lshCurveConfigs.map { case (b, r) =>
        val sr = (1 to r).map(_ => s).mkString("1.0 * ", " * ", "")
        val fail = (1 to b).map(_ => s"(1.0 - ($sr))").mkString("1.0 * ", " * ", "")
        s"SELECT $b AS bands, $r AS rows_per_band, i, " +
          s"(i * 1000000) // $lshCurveSteps AS s_ppm, " +
          s"CAST(floor((1.0 - ($fail)) * 1000000.0) AS BIGINT) AS p_candidate_ppm " +
          s"FROM range(1, $lshCurveSteps) t(i)"
      }
      arms.mkString(" UNION ALL ")
    }),

    // similarity-threshold sweep over ONE capped pair frame (computed at
    // the loosest threshold, persisted): per candidate threshold, the
    // surviving pair count and distinct affected docs — the dial-setting
    // table read before committing a dedup threshold
    QuerySpec("dedup_threshold_sweep", (s, dir) => {
      val docs = docsShingled(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "sh",
          sweepThresholds.min, maxPosting = 500)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rows = sweepThresholds.map { tv =>
        val f = pairs.filter(col("jaccard") >= tv)
        val aff = f.select(explode(array(col("id_a"), col("id_b"))).as("d"))
          .distinct().agg(count(lit(1)).as("docs_affected"))
        f.agg(count(lit(1)).as("n_pairs"))
          .crossJoin(broadcast(aff))
          .select(lit(math.round(tv * 1000000)).as("t_ppm"),
            col("n_pairs"), col("docs_affected"))
      }
      val out = rows.reduce(_ unionByName _).transform(Frames.truncate)
      pairs.unpersist(false)
      out
    },
      // sweep: the pair pipeline once at the loosest threshold, UNION ALL
      // legs with the same double-literal comparisons
      {
      val legs = sweepThresholds.map { tv =>
        val t = s"CAST($tv AS DOUBLE)"
        s"SELECT CAST(${math.round(tv * 1000000)} AS BIGINT) AS t_ppm, " +
          s"(SELECT count(*) FROM p WHERE jaccard >= $t) AS n_pairs, " +
          "(SELECT count(*) FROM (SELECT DISTINCT d FROM " +
          s"(SELECT id_a AS d FROM p WHERE jaccard >= $t " +
          s"UNION ALL SELECT id_b FROM p WHERE jaccard >= $t))) AS docs_affected"
      }
      s"WITH p AS (${jaccardPairsOracleSqlAt(sweepThresholds.min)}) " +
        legs.mkString(" UNION ALL ")
    }),

    // the dedup tuning loop: precision/recall (integer ppm) of the banded
    // MinHash candidates vs exact 3-shingle Jaccard ≥ 0.5 ground truth —
    // same role recallAtK plays for the ANN knobs, itself oracle-checked
    QuerySpec("dedup_eval_report", (s, dir) => {
      val docs = docsShingled(s, dir)
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "sh", 64)
      val cands = Dedup.lshCandidates(
        Dedup.lshBands(sigs, "doc_id", "sig", bands = 16, rowsPerBand = 4),
        "doc_id")
      Dedup.candidateEval(cands,
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500))
    },
      dedupEvalOracleSql),

    QuerySpec("dedup_simhash", (s, dir) => {
      val docs = Dedup.simhashFingerprints(
        tFan(s, dir, "documents").select(col("doc_id"),
          docTokens(col("text")).as("toks")), "doc_id", "toks")
      Dedup.simhashPairs(docs, "doc_id", "sh64", hammingMax = 8)
    },
      simhashOracleSql),

    QuerySpec("dedup_embedding", (s, dir) =>
      Similarity.exactDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4),
      ("WITH scored AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) AS sim " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b, round(sim, 6) AS sim FROM scored WHERE sim >= 0.4")),

    // RHP-LSH scale path for embedding near-dup — the flagship embedding
    // query: candidate generation is a bucket equi-join (no nested-loop
    // join anywhere in the plan). Oracle-checked exactly: the bucketing is
    // deterministic, so the oracle recomputes the SAME buckets from the
    // same plane constants (rhpOracleSql) and mirrors the bucket join.
    // The exact all-pairs variant above stays as the small-SF differential
    // that bounds the recall loss.
    QuerySpec("dedup_embedding_lsh", (s, dir) =>
      Similarity.embeddingDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, bits = 6, dim = 64),
      rhpLshOracleSql),

    // SemDeDup (Abbas et al. 2023): k-means cells bound the quadratic
    // near-dup work; drop = lower-id same-cell neighbor with cosine ≥ 0.4.
    // iters=0 is anchor mode (cells = the 8 lowest-id vectors) so the
    // oracle recomputes the same assignment; prod default trains cells.
    // maxCell=1000 is the skew guard (over-cap cells skip pairing, members
    // keep=true) — the oracle recomputes the same per-cell counts and
    // exclusion, so the cap is verified, not just declared. Sized as a
    // p99 guard for the bench SFs (avg cell ≈ 625 at sf0.1 stays under
    // it); a corpus that pushes AVERAGE cells over any cap needs a bigger
    // numCells, not a bigger cap
    QuerySpec("dedup_semantic", (s, dir) =>
      Similarity.semanticDupReport(t(s, dir, "embeddings"), "vec_id",
        "embedding", numCells = 8, threshold = 0.4, iters = 0,
        maxCell = 1000),
      // anchor cells = the 8 lowest-id vectors; L2 assignment argmax
      // (2·v·c − |c|²) with ties to the lowest cell id, cosine pair filter;
      // cells with more than 1000 members are excluded from pairing (the
      // engine's maxCell skew guard, recomputed here)
      ("WITH cent AS (SELECT vec_id AS cid, embedding AS cvec, " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS cnorm " +
        "FROM embeddings ORDER BY vec_id LIMIT 8), " +
        "sc AS (SELECT e.vec_id, c.cid, " +
        "2.0 * list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE)) - c.cnorm * c.cnorm AS s " +
        "FROM embeddings e CROSS JOIN cent c), " +
        "asg0 AS (SELECT vec_id, cid AS cell FROM (SELECT vec_id, cid, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sc) WHERE rn = 1), " +
        "asg AS (SELECT vec_id, cell, count(*) OVER (PARTITION BY cell) AS _cn FROM asg0), " +
        "n AS (SELECT vec_id, sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nn FROM embeddings), " +
        "p AS (SELECT DISTINCT b.vec_id AS drop_id " +
        "FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        "AND a._cn <= 1000 " +
        "JOIN embeddings ea ON ea.vec_id = a.vec_id " +
        "JOIN embeddings eb ON eb.vec_id = b.vec_id " +
        "JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id " +
        "WHERE list_sum(list_transform(range(1, 65), i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)) / (na.nn * nb.nn) >= 0.4) " +
        "SELECT asg.vec_id, asg.cell, p.drop_id IS NULL AS keep " +
        "FROM asg LEFT JOIN p ON asg.vec_id = p.drop_id")),

    // ---- multimodal plumbing --------------------------------------------
    QuerySpec("media_meta", (s, dir) =>
      Multimodal.syntheticMedia(t(s, dir, "documents")).drop("payload"),
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS modality,
        |  CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
        |    ELSE 'rawv' END AS format,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 16
        |    WHEN 1 THEN 0 ELSE 4 + doc_id % 8 END AS INTEGER) AS width,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 9
        |    WHEN 1 THEN 0 ELSE 4 + doc_id % 6 END AS INTEGER) AS height,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 10 + doc_id % 50
        |    ELSE (2 + doc_id % 5) * 100 END AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin),

    // real container decode (BMP/WAV/RAWV header + pixel/sample walk); the
    // oracle recomputes width/height/duration/mean from the generator
    // constants, so a decoder bug (padding, endianness, bottom-up rows)
    // breaks the hash
    QuerySpec("media_features", (s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.syntheticMedia(t(s, dir, "documents"))).toDF()
        .select(col("media_id"), col("modality"), col("n_bytes"),
          col("width"), col("height"), col("duration_ms"),
          round(col("mean_val"), 6).as("mean_val")),
      // expected decode results recomputed from the generator constants
      // (dims/sample formulas in Multimodal.scala) — NOT from the binary,
      // which only the engine-side decoder reads
      ("WITH m AS (SELECT doc_id AS id, doc_id % 3 AS md FROM documents), " +
        "imgf AS (SELECT id, 'image' AS modality, " +
        "CAST(54 + h * (((3*w + 3) // 4) * 4) AS BIGINT) AS n_bytes, " +
        "CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height, " +
        "CAST(0 AS BIGINT) AS duration_ms, " +
        "list_sum(list_transform(range(0, 3*w*h), j -> (id*7 + j) % 256))::DOUBLE / (3*w*h) AS mean_val " +
        "FROM (SELECT id, 4 + id % 16 AS w, 4 + id % 9 AS h FROM m WHERE md = 0)), " +
        "audf AS (SELECT id, 'audio' AS modality, " +
        "CAST(44 + 2*n AS BIGINT) AS n_bytes, " +
        "CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height, " +
        "CAST(n // 8 AS BIGINT) AS duration_ms, " +
        "list_sum(list_transform(range(0, n), k -> abs(((id*13 + k*97) % 65536) - 32768)))::DOUBLE / n AS mean_val " +
        "FROM (SELECT id, 8 * (10 + id % 50) AS n FROM m WHERE md = 1)), " +
        "vidf AS (SELECT id, 'video' AS modality, " +
        "CAST(20 + fr*3*w*h AS BIGINT) AS n_bytes, " +
        "CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height, " +
        "CAST(fr * 100 AS BIGINT) AS duration_ms, " +
        "list_sum(list_transform(range(0, fr*3*w*h), " +
        "t -> (id*7 + (t // (3*w*h)) * 1009 + (t % (3*w*h))) % 256))::DOUBLE / (fr*3*w*h) AS mean_val " +
        "FROM (SELECT id, 4 + id % 8 AS w, 4 + id % 6 AS h, 2 + id % 5 AS fr FROM m WHERE md = 2)) " +
        "SELECT id AS media_id, modality, n_bytes, width, height, duration_ms, " +
        "round(mean_val, 6) AS mean_val FROM " +
        "(SELECT * FROM imgf UNION ALL SELECT * FROM audf UNION ALL SELECT * FROM vidf)")),

    // IMAGE near-dup via the 60-bit blockhash perceptual fingerprint:
    // engine decodes real BMP bytes → blockhash → simhash 16-bit band
    // join (pigeonhole-exact at hamming ≤ 3); the oracle recomputes the
    // hash from the generator's pixel formula and brute-forces pairs, so
    // a decode bug OR a banding recall gap breaks the hash match
    QuerySpec("media_phash_dedup", (s, dir) =>
      Dedup.simhashPairs(
        Multimodal.imageBlockhash(
          Multimodal.syntheticMedia(t(s, dir, "documents"))),
        "media_id", "phash", hammingMax = 3, maxBucket = mediaBandCap)
        .withColumn("hamming", col("hamming").cast("long")),
      // blockhash recomputed from the generator's pixel ramp; pairs via the
      // SAME banded join + hot-bucket cap as the engine (sqlBandedHashPairs
      // — capGroups mirrored; on sub-cap families this equals brute force,
      // the pigeonhole-recall guarantee at hamming ≤ 3)
      sqlBandedHashPairs(
      "WITH img AS (SELECT doc_id AS id, 4 + doc_id % 16 AS w, " +
        "4 + doc_id % 9 AS hh FROM documents WHERE doc_id % 3 = 0), " +
        "hb AS (SELECT id, 3*w*hh AS n, " +
        "list_sum(list_transform(range(0, 3*w*hh), j -> (id*7 + j) % 256)) AS total FROM img), " +
        "ph AS (SELECT id, CAST(list_sum(list_transform(range(0, 60), s -> " +
        "CASE WHEN list_sum(list_transform(range(s*n//60, (s+1)*n//60), j -> (id*7 + j) % 256)) * n " +
        "> total * ((s+1)*n//60 - s*n//60) " +
        "THEN (1::BIGINT << s) ELSE 0 END)) AS BIGINT) AS h FROM hb)")),

    // audio dead-air / clipping screen from the real WAV decode; exact
    // integer ppm — oracle recomputes from the generator's sample formula
    QuerySpec("media_audio_quality", (s, dir) =>
      Multimodal.audioQuality(
        Multimodal.syntheticMedia(t(s, dir, "documents"))),
      ("WITH aud AS (SELECT doc_id AS id, 8*(10 + doc_id % 50) AS n " +
        "FROM documents WHERE doc_id % 3 = 1), " +
        "q AS (SELECT id, n, " +
        "len(list_filter(range(0, n), k -> abs(((id*13 + k*97) % 65536) - 32768) < 1000)) AS silent, " +
        "len(list_filter(range(0, n), k -> abs(((id*13 + k*97) % 65536) - 32768) >= 32000)) AS clipped " +
        "FROM aud) " +
        "SELECT id AS media_id, CAST(n AS BIGINT) AS n_samples, " +
        "CAST(silent * 1000000 // n AS BIGINT) AS silence_ppm, " +
        "CAST(clipped * 1000000 // n AS BIGINT) AS clip_ppm FROM q")),

    // voice-activity segments from the real PCM decode: per-frame mean
    // |s| energies (codec emits frame rows; everything after is plain
    // DataFrame work), threshold, then gaps-and-islands — the
    // speech-span extractor that feeds ASR training crops
    QuerySpec("media_audio_segments", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val en = Multimodal.audioFrameEnergies(
        Multimodal.syntheticMedia(t(s, dir, "documents")), frame = vadFrame)
      en.filter(col("energy_mean") >= vadThresh)
        .withColumn("_grp", col("frame_idx") -
          row_number().over(Window.partitionBy(col("media_id"))
            .orderBy(col("frame_idx"))).cast("long"))
        .groupBy(col("media_id"), col("_grp"))
        .agg(min(col("frame_idx")).as("seg_start"),
          max(col("frame_idx")).as("seg_end"),
          count(lit(1)).as("n_frames"))
        .drop("_grp")
    },
      // VAD segments: frame energies recomputed from the generator sample
      // formula, same threshold and gaps-and-islands grouping
      ("WITH aud AS (SELECT doc_id AS id, (10 + doc_id % 50) AS nf " +
        "FROM documents WHERE doc_id % 3 = 1), " +
        "fr AS (SELECT id, unnest(range(0, nf)) AS f FROM aud), " +
        s"en AS (SELECT id, f, list_sum(list_transform(range(0, $vadFrame), " +
        s"j -> abs(((id*13 + (f*$vadFrame + j)*97) % 65536) - 32768))) // $vadFrame AS e " +
        "FROM fr), " +
        s"v AS (SELECT id, f FROM en WHERE e >= $vadThresh), " +
        "g AS (SELECT id, f, f - row_number() OVER " +
        "(PARTITION BY id ORDER BY f) AS grp FROM v) " +
        "SELECT id AS media_id, CAST(min(f) AS BIGINT) AS seg_start, " +
        "CAST(max(f) AS BIGINT) AS seg_end, count(*) AS n_frames " +
        "FROM g GROUP BY id, grp")),

    // scene cuts from the real RAWV frame decode: mean abs per-byte diff
    // per consecutive frame pair in exact milli-units + the cut flag
    QuerySpec("media_scene_changes", (s, dir) =>
      Multimodal.sceneChanges(
        Multimodal.syntheticMedia(t(s, dir, "documents"))),
      ("WITH vid AS (SELECT doc_id AS id, 4 + doc_id % 8 AS w, " +
        "4 + doc_id % 6 AS h, 2 + doc_id % 5 AS fr " +
        "FROM documents WHERE doc_id % 3 = 2), " +
        "pr AS (SELECT id, fb, f, " +
        "list_sum(list_transform(range(0, fb), j -> " +
        "abs(((id*7 + f*1009 + j) % 256) - ((id*7 + (f-1)*1009 + j) % 256)))) AS sad " +
        "FROM (SELECT id, 3*w*h AS fb, unnest(range(1, fr)) AS f FROM vid)) " +
        "SELECT id AS media_id, CAST(f AS BIGINT) AS frame_idx, " +
        "CAST(sad * 1000 // fb AS BIGINT) AS diff_milli, " +
        "CAST(CASE WHEN sad * 1000 // fb >= 30000 THEN 1 ELSE 0 END AS BIGINT) AS is_cut " +
        "FROM pr")),

    // AUDIO near-dup via the 60-bit energy-envelope fingerprint: real WAV
    // decode → per-window |PCM| share sign hash → the same simhash band
    // join as the image path; oracle recomputes the hash from the
    // generator's sample formula and brute-forces pairs
    QuerySpec("media_audio_dedup", (s, dir) =>
      Dedup.simhashPairs(
        Multimodal.audioFingerprint(
          Multimodal.syntheticMedia(t(s, dir, "documents"))),
        "media_id", "ahash", hammingMax = 3, maxBucket = mediaBandCap)
        .withColumn("hamming", col("hamming").cast("long")),
      // energy-envelope hash recomputed from the generator's sample formula;
      // pairs via the mirrored banded join + hot-bucket cap — the envelope
      // family is degenerately self-similar, so the cap genuinely binds
      // here (188 surviving pairs of 9566 uncapped at sf0.01)
      sqlBandedHashPairs(
      "WITH aud AS (SELECT doc_id AS id, 8*(10 + doc_id % 50) AS n " +
        "FROM documents WHERE doc_id % 3 = 1), " +
        "hb AS (SELECT id, n, " +
        "list_sum(list_transform(range(0, n), k -> abs(((id*13 + k*97) % 65536) - 32768))) AS total FROM aud), " +
        "ph AS (SELECT id, CAST(list_sum(list_transform(range(0, 60), s -> " +
        "CASE WHEN list_sum(list_transform(range(s*n//60, (s+1)*n//60), k -> abs(((id*13 + k*97) % 65536) - 32768))) * n " +
        "> total * ((s+1)*n//60 - s*n//60) " +
        "THEN (1::BIGINT << s) ELSE 0 END)) AS BIGINT) AS h FROM hb)")),

    // VIDEO near-dup: per-frame 60-segment blockhash, clip signature =
    // majority vote across frames (trim-robust), banded pair join; the
    // oracle rebuilds every frame hash and the vote from the generator's
    // byte formula and brute-forces pairs
    QuerySpec("media_video_dedup", (s, dir) =>
      Dedup.simhashPairs(
        Multimodal.videoFingerprint(
          Multimodal.syntheticMedia(t(s, dir, "documents"))),
        "media_id", "vhash", hammingMax = 3, maxBucket = mediaBandCap)
        .withColumn("hamming", col("hamming").cast("long")),
      // every frame hash + the majority vote rebuilt from the byte formula;
      // empty 60-segments (fb < 60) yield NULL list_sum → CASE falls to 0,
      // matching the engine's empty-segment bit 0; pairs via the mirrored
      // banded join + hot-bucket cap
      sqlBandedHashPairs(
      "WITH vid AS (SELECT doc_id AS id, 4 + doc_id % 8 AS w, " +
        "4 + doc_id % 6 AS hh, 2 + doc_id % 5 AS nf " +
        "FROM documents WHERE doc_id % 3 = 2), " +
        "fr AS (SELECT id, nf, 3*w*hh AS fb, unnest(range(0, nf)) AS f FROM vid), " +
        "ft AS (SELECT id, nf, fb, f, " +
        "list_sum(list_transform(range(0, fb), j -> (id*7 + f*1009 + j) % 256)) AS total FROM fr), " +
        "fh AS (SELECT id, nf, CAST(list_sum(list_transform(range(0, 60), s -> " +
        "CASE WHEN list_sum(list_transform(range(s*fb//60, (s+1)*fb//60), j -> (id*7 + f*1009 + j) % 256)) * fb " +
        "> total * ((s+1)*fb//60 - s*fb//60) " +
        "THEN (1::BIGINT << s) ELSE 0 END)) AS BIGINT) AS fhash FROM ft), " +
        "vh0 AS (SELECT id, nf, list(fhash) AS hs FROM fh GROUP BY id, nf), " +
        "ph AS (SELECT id, CAST(list_sum(list_transform(range(0, 60), s -> " +
        "CASE WHEN 2 * len(list_filter(hs, x -> ((x >> s) & 1) = 1)) > nf " +
        "THEN (1::BIGINT << s) ELSE 0 END)) AS BIGINT) AS h FROM vh0)")))
}
