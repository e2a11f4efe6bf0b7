package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._
import graft.streaming.EventStream

/** Table reads and literals that queries of more than one family use. */
private[graft] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** [[t]] + scan-parallelism fan-out (optimization guide §2.5, "input
    * skew: one huge unsplittable file ... repartition immediately after
    * the read") for HEAVY consumers only. The test fixtures are
    * single-row-group parquet files, so every scan plans as ONE task and
    * all per-row work (shingling, minhash, tokenization, per-event
    * JSON/profile kernels) would run on 1 of N cores — measured 1.9–2.4 s
    * single-task scan stages inside a 6 s query at sf0.1/local[32]. When
    * the scan plans fewer splits than half the session's cores, fan it
    * out once: the exchange moves the NARROW base rows exactly once,
    * before any expansion (shingles, token arrays) exists. Results are
    * unaffected — every aggregate in the suite is order-free by the house
    * determinism rules (decimal/integer sums, sorted arrays, total-order
    * windows); the full oracle gate re-ran green over this change.
    * Scale-adaptive, not a local[32] constant: a production table laid
    * out per guide §6 (128 MB–1 GB files / row groups) plans ≥ cores
    * splits and this is the identity — no shuffle is ever added at scale.
    *
    * Re-measured at local[4] on a 4-vCPU VM, sf0.1, over all 46
    * consumers (plans/r16-fan-ab): 81.5 s fanned vs 103.7 s plain in the
    * sum of per-query minimums, 43 of 46 slower plain.
    *
    * Measured A/B at sf0.1 (isolated fresh-JVM min-of-3, this box) that
    * sets the policy boundaries:
    *   - heavy documents/events consumers WIN big: events_rfm 6.9→4.4,
    *     corpus_leak_split 7.6→6.3, graph_bfs 5.5→4.9,
    *     dedup_jaccard_exactjoin 6.1→4.3;
    *   - TRIVIAL documents/events consumers LOSE: +0.3–0.4 s each across
    *     a 12-query probe batch (extra exchange + 32-task stages where
    *     one task sufficed) — hence fan-out at heavy call sites only,
    *     never inside [[t]];
    *   - numeric-scan tables (lineitem/orders) LOSE: q9 1.2→2.2, q1
    *     0.8→1.2 — per-row work is a few arithmetic ops, so shipping raw
    *     rows costs more than the single-task partial aggregate saved
    *     (§2.3 "aggregate before you shuffle" — the old plan already
    *     did);
    *   - array-payload tables (embeddings) LOSE: ann_graph_topk 6.3→8.8
    *     — the vector IS the payload (§8: don't add a payload shuffle
    *     when the per-row decision work is trivial).
    * Hash-partition on the unique id, not round-robin: a keyless
    * repartition pays a per-partition sort of the full rows first
    * (`spark.sql.execution.sortBeforeRepartition`, needed for
    * deterministic retries); hashing the id is deterministic by
    * construction and skips the sort (measured ~1 s cheaper across the
    * probe batch).
    *
    * The fan target reads the scan's logical `sizeInBytes`. That is the
    * files' byte size because `tFan` reads only parquet tables, through
    * [[t]]; a source without size statistics would report Spark's
    * `defaultSizeInBytes` instead and always fan to `cores`. */
  private val fanOutKey =
    Map("documents" -> "doc_id", "events" -> "event_id")
  /** The data-relative partition quantum: the fan target is
    * `inputBytes / quantum`, capped at the session's cores — so the task
    * count scales with the DATA, never with the box alone, and a tiny
    * probe input (sf0.001/sf0.01) stops producing `cores` near-empty
    * partitions whose scheduling overhead exceeds their work. 16 KiB of
    * compressed text per task ≈ 250 docs ≈ 100s of ms of shingle/token
    * kernel work — enough to amortize a task launch many times over; at
    * a §6-compliant production layout (≥128 MB files/row groups) the
    * scan already plans ≥ cores splits and the whole guard is the
    * identity. */
  private val FanQuantumBytes = 16384L
  def tFan(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(s, dir, name)
    val cores = s.sparkContext.defaultParallelism
    fanOutKey.get(name) match {
      // split probe caveat: getNumPartitions counts planned byte-range
      // splits, not effective parallelism — a single-row-group file can
      // still plan many splits with every row in one of them; good
      // enough here because the fixtures are single-file tables.
      case Some(key) if df.rdd.getNumPartitions * 2 < cores =>
        // logical stats = file bytes for a bare parquet scan (cheap, no
        // job); clamp target to [1, cores] by data size
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        val target = (bytes / FanQuantumBytes)
          .min(BigInt(cores)).max(BigInt(1)).toInt
        if (target > df.rdd.getNumPartitions * 2)
          df.repartition(target, col(key))
        else df
      case _ => df
    }
  }

  /** The shingle-index read every dedup/graph/corpus pair query starts
    * from: (doc_id, 3-word shingles), fanned out across the session's
    * cores before the shingling runs ([[tFan]]). */
  def docsShingled(s: SparkSession, dir: String): DataFrame =
    tFan(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.wordShingles(col("text"), 3).as("sh"))

  /** events.parquet carries INT64-nanos timestamps (see
    * EventStream.normalizeTs); requires spark.sql.legacy.parquet.nanosAsLong
    * on the session (set in Verify/Bench). */
  def events(s: SparkSession, dir: String): DataFrame =
    EventStream.normalizeTs(t(s, dir, "events"))

  // NOTE (r15): the former `eventsFan` helper is gone. Its three call
  // sites (events_rfm, events_resample, events_robust_anomaly) each
  // BEGIN with a groupBy whose built-in aggregates do partial map-side
  // aggregation — fanning the scan first shipped raw event rows across
  // an exchange that the partial aggregate would have collapsed to a
  // per-group row (§2.3 "aggregate before you shuffle", the same
  // measured reason the lineitem/orders scans never fanned: q9 1.2→2.2).
  // Both r14 driver artifacts read events_rfm slower fanned (18.3 s @32c,
  // 4.4 s @8c vs 2.70 s unfanned in r13).

  /** Driver-compat final projection. The harness compare sorts rows via
    * pandas (which cannot hash array cells) and hashes DECIMAL differently
    * across Spark-parquet and DuckDB, so checked queries end with this:
    * arrays become sorted '|'-joined strings (struct arrays: `to_json`,
    * order preserved — they are pre-sorted by construction), decimals cast
    * to double AFTER the exact decimal aggregation (order-independence is
    * already locked in). The paired oracles mirror it with
    * `array_to_string`/`CAST(... AS DOUBLE)`. */
  def driverSafe(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("double").as(f.name)
        case ArrayType(StringType, _) =>
          array_join(array_sort(col(f.name)), "|").as(f.name)
        case ArrayType(LongType | IntegerType | ShortType | ByteType, _) =>
          array_join(transform(array_sort(col(f.name)), _.cast("string")), "|")
            .as(f.name)
        case _: ArrayType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)

  def docTokens(c: Column): Column = TextFunctions.tokens(c)
  val dayUs = 86400000000L
  // text_html_extract: the synthesized crawl page — boilerplate nav, a
  // link-farm "related" block, and a footer around the real text (which
  // itself carries one legitimate inline link). Shared between the Spark
  // query and the oracle so the template cannot drift.
  val htmlPre = "<html><head><title>Doc "
  val htmlMid =
    "</title><style>.m{color:red}</style><script>var x=1;</script></head>" +
      "<body><nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
      "<a href=\"/topics\">Topics</a></nav><div>"
  val htmlPost =
    " See <a href=\"/ref\">the reference guide</a> for details.</div>" +
      "<div><a href=\"/a1\">Long related article title number one here</a> " +
      "<a href=\"/a2\">Another long related article headline right here</a></div>" +
      "<footer><a href=\"/tos\">Terms of Service</a> " +
      "<a href=\"/privacy\">Privacy Policy</a> (c) Example Corp</footer>" +
      "</body></html>"
  val htmlMaxLinkPpm = 300000L
  val htmlMinChars = 25

  /** DuckDB-side whitespace tokenization identical to TextFunctions.tokens. */
  val sqlToks =
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)"

  /** DuckDB twin of [[graft.functions.Html.visibleText]] over expression
    * `x`: tags → space, entity decode in Html.Entities order (`&amp;`
    * last), whitespace collapse, trim. Patterns interpolate from the SAME
    * constants the engine compiles, so the two sides cannot drift. */
  def sqlVisible(x: String): String = {
    val decoded = Html.Entities.foldLeft(
      s"regexp_replace($x, '${Html.TagRe}', ' ', 'g')") {
      case (acc, (from, to)) =>
        val toQ = if (to == "'") "''" else to
        s"replace($acc, '$from', '$toQ')"
    }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** DuckDB twin of `TextFunctions.langId` — shared by `text_langid` and
    * the stratified-sampling oracle. */
  /** Shared body (t → s → the argmax pick as CTE `lg`) so text_langid and
    * corpus_lang_confusion read the same predictor. */
  def langIdBodySql: String =
    s"t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
      "s AS (SELECT doc_id, " +
      "len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','auf'], x))) AS s_de, " +
      "len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','that','it','for'], x))) AS s_en, " +
      "len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los','es','un','una','por'], x))) AS s_es, " +
      "len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','un','une','dans','que'], x))) AS s_fr, " +
      "len(list_filter(toks, x -> list_contains(['的','了','是','我','不','在','有','他','这','就'], x))) AS s_zh " +
      "FROM t), " +
      "lg AS (SELECT doc_id, CASE WHEN m = 0 THEN 'und' WHEN s_de = m THEN 'de' " +
      "WHEN s_en = m THEN 'en' WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr' " +
      "ELSE 'zh' END AS lang_guess " +
      "FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM s))"

  def langIdOracleSql: String =
    s"WITH $langIdBodySql SELECT doc_id, lang_guess FROM lg"

  /** DuckDB twin of Dedup.Md5Hasher.md5Long: 60-bit long from the md5 hex
    * prefix — (hex[1,7] << 32) | hex[9,16]; every intermediate < 2^60 so
    * BIGINT can't overflow. */
  def sqlMd5Long(s: String): String =
    s"((('0x' || substring(md5($s), 1, 7))::BIGINT << 32) | " +
      s"('0x' || substring(md5($s), 9, 8))::BIGINT)"

  /** DuckDB twin of Sampling.stableBucket(id, 1 << 30) — the stable-hash
    * spread order behind stableCappedSample and the bitext bucket caps. */
  val sqlStableBucket30 =
    "(('0x' || substring(md5(id::VARCHAR), 1, 8))::BIGINT % 1073741824)"

  /** DuckDB twin of the distinct word-3-gram shingling used by the dedup
    * queries (TextFunctions.wordShingles(text, 3)). */
  val sqlShingles3 =
    "list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
      "ELSE list_transform(range(1, len(toks) - 1), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END)"

  /** DuckDB bucket recomputation for the RHP-LSH paths: the SAME
    * deterministic hyperplanes (Similarity.rhpPlaneComponents) as SQL list
    * literals plus the sign-bit bucket expression, so the approximate scale
    * paths are EXACTLY verifiable instead of rows-only. Returns the plane
    * CTE column list and the bucket expression over a vector column `v`. */
  def rhpSqlParts(bits: Int, dim: Int, table: Int = 0,
                          pfx: String = "p"): (String, String) = {
    val planes = Similarity.rhpPlaneComponents(bits, dim, table)
    val planeCols = planes.zipWithIndex.map { case (p, i) =>
      p.map(x => if (x > 0) "1" else "-1")
        .mkString("[", ",", s"]::DOUBLE[] AS $pfx$i")
    }.mkString(", ")
    val bucketExpr = (0 until bits).map { i =>
      s"(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), " +
        s"d -> v[d]::DOUBLE * $pfx$i[d])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    (planeCols, bucketExpr)
  }

  /** Shared RHP bucket-join pair CTE prefix (`...  s(id_a, id_b, sim)`)
    * mirroring `Similarity.embeddingDupPairs(bits = 6, dim = 64)` — used
    * by dedup_embedding_lsh and the semantic-leak audit. */
  def rhpLshPairPrefixSql: String = {
    val (planeCols, bucketExpr) = rhpSqlParts(6, 64)
    s"WITH pl AS (SELECT $planeCols), " +
      "v0 AS (SELECT vec_id AS id, embedding AS v FROM embeddings), " +
      s"b AS (SELECT id, v, $bucketExpr AS bucket, " +
      "sqrt(list_sum(list_transform(range(1, 65), d -> v[d]::DOUBLE * v[d]::DOUBLE))) AS n " +
      "FROM v0, pl), " +
      "s AS (SELECT a.id AS id_a, c.id AS id_b, " +
      "list_sum(list_transform(range(1, 65), d -> a.v[d]::DOUBLE * c.v[d]::DOUBLE)) / (a.n * c.n) AS sim " +
      "FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id)"
  }

  /** Exact 3-shingle Jaccard ≥ 0.5 pairs with the 500-posting cap —
    * shared by dedup_jaccard and the candidate-eval oracle's truth leg. */
  /** Shared per-doc bigram-LM cross-entropy CTE body (`d` docs → `s`
    * per-doc NLL sums) — used by text_perplexity and corpus_ppl_buckets
    * so the model definition can never drift between them. */
  def pplBodySql: String =
    s"d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
      "g AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
      "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS gram FROM d), " +
      "c2 AS (SELECT gram, count(*) AS c2 FROM g GROUP BY gram), " +
      "u AS (SELECT unnest(toks) AS w1 FROM d), " +
      "c1 AS (SELECT w1, count(*) AS c1 FROM u GROUP BY w1), " +
      "v AS (SELECT count(*) AS n_vocab FROM c1), " +
      "s AS (SELECT doc_id, count(*) AS n_bigrams, " +
      "sum(CAST(-ln((c2 + 1.0) / (c1 + n_vocab)) AS DECIMAL(27,12))) AS s " +
      "FROM (SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1 FROM g) gg " +
      "JOIN c2 USING (gram) JOIN c1 USING (w1) CROSS JOIN v GROUP BY doc_id)"

  /** Shared recursive-CC prefix (jaccard pairs → undirected closure →
    * per-node min component): `WITH RECURSIVE ...` through the `comp`
    * CTE (id, comp). Used by dedup_groups / corpus_leak_split /
    * corpus_canonical so the three can never drift apart. */
  def ccCompPrefixSql: String =
    s"WITH RECURSIVE t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
      "ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS shs FROM t), " +
      "sizes AS (SELECT doc_id, len(shs) AS n FROM sh), " +
      "posting AS (SELECT doc_id, unnest(shs) AS s FROM sh), " +
      "sized AS (SELECT doc_id, s FROM (SELECT *, count(*) OVER (PARTITION BY s) AS pn FROM posting) WHERE pn <= 500), " +
      "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
      "FROM sized a JOIN sized b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), " +
      "scored AS (SELECT id_a, id_b FROM (SELECT id_a, id_b, CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard " +
      "FROM pairs JOIN sizes na ON id_a = na.doc_id JOIN sizes nb ON id_b = nb.doc_id) WHERE jaccard >= 0.5), " +
      "e AS (SELECT id_a AS a, id_b AS b FROM scored UNION SELECT id_b, id_a FROM scored), " +
      "reach AS (SELECT a, b FROM e UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a), " +
      "comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)"

  def jaccardPairsOracleSql: String = jaccardPairsOracleSqlAt(0.5)

  /** The capped shingle-Jaccard pair pipeline at an arbitrary threshold
    * (dedup_threshold_sweep reuses it at 0.25). */
  def jaccardPairsOracleSqlAt(threshold: Double): String =
    s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
      "ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS shs FROM t), " +
      "sizes AS (SELECT doc_id, len(shs) AS n FROM sh), " +
      "posting AS (SELECT doc_id, unnest(shs) AS s FROM sh), " +
      "sized AS (SELECT doc_id, s FROM (SELECT *, count(*) OVER (PARTITION BY s) AS pn FROM posting) WHERE pn <= 500), " +
      "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
      "FROM sized a JOIN sized b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), " +
      "scored AS (SELECT id_a, id_b, CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard " +
      "FROM pairs JOIN sizes na ON id_a = na.doc_id JOIN sizes nb ON id_b = nb.doc_id) " +
      "SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM scored " +
      s"WHERE jaccard >= CAST($threshold AS DOUBLE)"

  /** Mirror of `corpus_ingest`: same MinHash/banding CTEs as
    * [[minhashLshOracleSql]] but carrying the stable old/new bucket, then
    * two existence probes (exact fingerprint, any-band collision) for the
    * new side only. No caps — existence joins have no quadratic bucket
    * risk (matches the engine's declared semantics). */
  def ingestOracleSql: String = {
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
      // COALESCE: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
      "fp AS (SELECT doc_id, bk, md5(COALESCE(array_to_string(toks, ' '), '')) AS f FROM t), " +
      s"sh AS (SELECT doc_id, bk, $sqlShingles3 AS shs FROM t), " +
      "posting AS (SELECT doc_id, bk, unnest(shs) AS s FROM sh), " +
      s"hashed AS (SELECT doc_id, bk, ${sqlMd5Long("s")} AS h FROM posting), " +
      s"sigs AS (SELECT doc_id, bk, $minCols FROM hashed GROUP BY doc_id, bk), " +
      s"sigl AS (SELECT doc_id, bk, $sigList AS sig FROM sigs), " +
      s"bands AS (SELECT doc_id, bk, b, $bandKey AS band_key " +
      "FROM sigl, range(0, 16) r(b)), " +
      "oldb AS (SELECT DISTINCT b, band_key FROM bands WHERE bk < 80), " +
      "near AS (SELECT DISTINCT n.doc_id FROM " +
      "(SELECT doc_id, b, band_key FROM bands WHERE bk >= 80) n " +
      "JOIN oldb o ON n.b = o.b AND n.band_key = o.band_key), " +
      "oldfp AS (SELECT DISTINCT f FROM fp WHERE bk < 80), " +
      "ex AS (SELECT DISTINCT n.doc_id FROM " +
      "(SELECT doc_id, f FROM fp WHERE bk >= 80) n JOIN oldfp o ON n.f = o.f) " +
      "SELECT nd.doc_id, e.doc_id IS NOT NULL AS exact_dup, " +
      "nr.doc_id IS NOT NULL AS near_cand, " +
      "(e.doc_id IS NULL AND nr.doc_id IS NULL) AS keep " +
      "FROM (SELECT doc_id FROM d WHERE bk >= 80) nd " +
      "LEFT JOIN ex e ON nd.doc_id = e.doc_id " +
      "LEFT JOIN near nr ON nd.doc_id = nr.doc_id"
  }
}
