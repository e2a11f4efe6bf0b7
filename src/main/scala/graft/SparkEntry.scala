package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema._
import graft.operators._
import graft.pipeline._
import graft.functions._
import graft.sources.Warc
import graft.streaming.EventStream

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the beyond-parity training-data ops), each with a DuckDB
  * oracle in `oracleSql` where the semantics are SQL-expressible.
  *
  * Determinism rules used throughout (so Spark-parquet vs DuckDB hash-match):
  *   - money/measure sums go through DECIMAL casts (fp double summation is
  *     accumulation-order-dependent; decimal is exact and order-free);
  *   - every collected array is sorted (`array_sort` / `list_sort`);
  *   - cosine similarities are sequential left-fold double dot products in
  *     BOTH engines (bit-identical), rounded only for display;
  *   - top-1/top-k picks always carry a total tie-break order.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
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
    * probe batch). */
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
  private def tFan(s: SparkSession, dir: String, name: String): DataFrame = {
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
  private def docsShingled(s: SparkSession, dir: String): DataFrame =
    tFan(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.wordShingles(col("text"), 3).as("sh"))

  /** events.parquet carries INT64-nanos timestamps (see
    * EventStream.normalizeTs); requires spark.sql.legacy.parquet.nanosAsLong
    * on the session (set in Verify/Bench). */
  private def events(s: SparkSession, dir: String): DataFrame =
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
    * already locked in). Paired oracleSql mirrors with
    * `array_to_string`/`CAST(... AS DOUBLE)`. */
  private def driverSafe(df: DataFrame): DataFrame =
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

  private def docTokens(c: Column): Column = TextFunctions.tokens(c)

  /** documents → (doc_id, source, feats): hashed unigram+bigram buckets
    * for the DSIR queries. Tokens materialize in their own projection
    * first — HOF lambdas re-evaluate outer-scope expressions per element.
    * Plain scan, not tFan: once the feature hash went native
    * (graft_md5prefix), the per-row kernel no longer paid for the fan
    * exchange — the r15 57-query fan A/B read all three DSIR consumers
    * 0.66–0.74× fanned. */
  private def dsirFeats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.tokens(col("text")).as("_toks"))
      .select(col("doc_id"), col("source"),
        Dsir.hashedFeatures(col("_toks"), 4096).as("feats"))

  /** The one token budget shared by corpus_temperature's Scala call and its
    * SQL oracle — interpolated into both so they can never drift apart. */
  private val tempBudgetTokens = 50000L

  /** Shared Spark-query/oracle literals (same never-drift rule): a pair
    * that disagrees only surfaces as a hash mismatch at gate time, with no
    * hint of the cause. */
  private val attribWindowUs = 45L * 60 * 1000000 // events_multitouch
  private val negAnchorMax = 8L                   // corpus_negatives
  private val kanonK = 5L                         // corpus_kanon
  private val kanonL = 2L
  private val kanonShift = 8
  private val zorderBits = 16                     // layout_zorder
  private val zorderPrefix = 16
  private val hilbertBits = 16                    // layout_hilbert
  private val hilbertPrefix = 16
  private val mmrLam = 0.7                        // ann_mmr_topk
  private val lshCurveConfigs =                   // dedup_lsh_curve
    Seq((16, 4), (8, 8), (32, 2), (4, 16))
  private val lshCurveSteps = 20
  private val skewTopK = 10                       // skew_report
  private val skewMaxSalts = 256L
  private val saltedDimLits =                     // j7_salted_join
    Seq(("click", 1L), ("view", 2L), ("purchase", 10L), ("signup", 5L))
  private val saltedJoinSalts = 8
  private val lpaRounds = 3                       // graph_communities
  private val linkPredictCap = 8                  // graph_link_predict
  private val featHashD = 1024                    // text_feature_hashing
  private val bootReplicas = 32                   // corpus_bootstrap_ci
  private val annNprobes = Seq(1, 2, 4, 8)        // ann_nprobe_curve
  // internal NN-descent frontier width (the paper's build K) and init
  // window: on the near-random synthetic embeddings a k=5 frontier
  // saturates at recall ≈ 0.25 regardless of rounds; buildK=20 with a
  // degree-32 init reaches 0.85 in 2 rounds (measured, round 11) —
  // shared by all three ann_graph_* queries and their oracles
  private val annGraphBuildK = 20
  private val annGraphInitWindow = 8
  // text_ndcg_eval: judgments exist only for this bounded doc-id pool —
  // qrels are per-query-bounded by construction, which is RankEval's
  // documented scale precondition (the ideal-DCG window partitions must
  // never hold a corpus)
  private val ndcgPoolMax = 100L
  private val sweepThresholds =                   // dedup_threshold_sweep
    Seq(0.25, 0.5, 0.75, 0.9)
  private val vadThresh = 16384L                  // media_audio_segments
  private val vadFrame = 8
  /** schema_fk_discovery candidates: (child table, child col, parent
    * table, parent col) — 7 real TPC-H FKs + one negative control. The
    * SAME list generates the engine unions and the oracle legs. */
  private val fkCandidates = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    // negative control: orderkeys range far past the customer key space,
    // so inclusion lands well under 10^6 and looks_fk stays 0
    ("orders", "o_orderkey", "customer", "c_custkey"))
  private val dayUs = 86400000000L
  private val currQsPpm = Seq(250000L, 500000L, 750000L) // corpus_curriculum
  private val packCapacity = 512L                 // corpus_pack_windows
  private val zoneFiles = 16                      // layout_zonemap_prune
  // epoch DAYS, not µs: the day domain is ~2²² narrower, so the bisect
  // cut search converges in ~3 conditional-count rounds instead of ~12
  private val zoneLoD = 9862L                     // 1997-01-01
  private val zoneHiD = 10043L                    // 1997-07-01
  private val perceptronRounds = 3                // text_langid_perceptron
  private val heapsCheckpoints = 8                // vocab_heaps
  private val cohortWeekUs = 7L * 86400000000L    // events_cohort_ltv
  private val chi2TopK = 40                       // corpus_feature_select
  private val containThreshPpm = 600000L          // dedup_containment
  private val boolQueryLits =                     // text_boolean_search
    Seq((0L, "spark join window"), (1L, "customer order value"),
      (2L, "vector scan"))
  private val phraseQueryLits =                   // text_phrase_search
    Seq((0L, "fast table"), (1L, "table table"), (2L, "agg row scan"))
  private val decayHalfLifeUs = 86400000000L      // events_decay (1 day)
  private val pathGapUs = 1800000000L             // events_paths (30 min)
  private val pathMaxLen = 5
  private val pathTopK = 20
  private val decayWeights = Seq(                 // ppm at age 0
    "purchase" -> 1000000L, "signup" -> 500000L, "click" -> 100000L,
    "view" -> 10000L, "error" -> 0L)
  private val outlierTopK = 20                    // embedding_outliers
  private val bfsSeedMod = 17L                    // graph_bfs
  private val bfsRounds = 3
  private val pcaRounds = 3                       // embedding_pca
  private val vocabCoverageKs = Seq(10, 100, 1000) // vocab_coverage
  private val noiseProbeMod = 17L                 // embedding_label_noise
  private val blocklistTerms =                    // corpus_blocklist
    Seq("spark", "vector", "slow")
  private val bigramSuggestK = 3                  // vocab_bigram_suggest
  private val deleteListMod = 41L                 // privacy_delete_impact
  private val annFilterLabel = 3                  // ann_filtered_topk
  private val q3Segment = "BUILDING"              // q3_shipping
  private val q3Date = "1995-03-15"
  private val kmeansK = 4                         // embedding_kmeans
  private val kmeansRounds = 2
  private val epochsBudgetTokens = 100000L        // corpus_epochs
  private val epochsShares = Seq("en" -> 50, "zh" -> 20) // ordered for SQL
  private val epochsDefaultShare = 10
  private val joinForecastK = 10                  // skew_join_forecast
  private val trigramTopK = 5                     // text_char_trigrams
  private val tripleMinSupport = 2L               // orders_basket_triples
  private val tripleTopK = 20
  private val upsertMod = 10L                     // dim_upsert
  private val waterfillBudgetTokens = 20000L      // corpus_waterfill
  private val pseudoSalt = "graft-export-1"       // privacy_pseudonymize
  private val topTypesK = 3                       // events_top_types
  private val checksRangeLo = 1L                  // corpus_checks
  private val checksRangeHi = 400L
  private val checksRangeThresh = 500000L
  private val checksLangSet = Seq("en", "es", "de", "fr")
  private val checksLangThresh = 900000L
  private val checksSourceRe = "^src[0-9]+$"
  // text_html_extract: the synthesized crawl page — boilerplate nav, a
  // link-farm "related" block, and a footer around the real text (which
  // itself carries one legitimate inline link). Shared between the Spark
  // query and the oracle so the template cannot drift.
  private val htmlPre = "<html><head><title>Doc "
  private val htmlMid =
    "</title><style>.m{color:red}</style><script>var x=1;</script></head>" +
      "<body><nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
      "<a href=\"/topics\">Topics</a></nav><div>"
  private val htmlPost =
    " See <a href=\"/ref\">the reference guide</a> for details.</div>" +
      "<div><a href=\"/a1\">Long related article title number one here</a> " +
      "<a href=\"/a2\">Another long related article headline right here</a></div>" +
      "<footer><a href=\"/tos\">Terms of Service</a> " +
      "<a href=\"/privacy\">Privacy Policy</a> (c) Example Corp</footer>" +
      "</body></html>"
  private val htmlMaxLinkPpm = 300000L
  private val htmlMinChars = 25
  // corpus_url_canonical: synthesized crawl URLs — mixed-case scheme and
  // host, default port, www., per-doc tracking params, shuffled params,
  // fragment, trailing slash. The item key folds doc_id (mod 50) so
  // re-crawl twins of the same article share a canonical URL while every
  // RAW url stays unique.
  private val urlP1 = "HTTP://WWW."            // || source ||
  private val urlP2 = ".Example.COM:80/Articles/" // || doc_id % 7 ||
  private val urlP3 = "/item-"                 // || doc_id % 30 ||
  private val urlP4 = "/?utm_source=feed"      // || doc_id ||
  private val urlP5 = "&ref=tw&b=2&a=1#s"      // || doc_id
  private val urlDomainCap = 20L
  // corpus_link_graph: three absolute outlinks per doc (messy spellings,
  // per-link tracking param) + one relative link that the absolute filter
  // must drop. Canonical target folds doc_id mod 11 so distinct-target
  // counts differ from raw link counts.
  private val linkA1 = "<a href=\"HTTP://WWW.src"  // || (doc_id+j)%20 ||
  private val linkA2 = ".Example.COM:80/page-"     // || doc_id%11 ||
  private val linkJ1 = "/?utm_j=1&x=1\">t</a><a href=\"/local\">rel</a>"
  private val linkJ2 = "/?utm_j=2&x=1\">t</a>"
  private val linkJ3 = "/?utm_j=3&x=1\">t</a>"
  // media_{phash,audio,video}_dedup: the same hot-bucket cap as the text
  // LSH paths, mirrored in the oracles — an all-alike fingerprint family
  // (synthetic generators are degenerately self-similar; boilerplate
  // jingles/test-cards in the wild) otherwise makes the banded join's
  // pair OUTPUT quadratic (measured 57–75× at 10× data uncapped)
  private val mediaBandCap = 100
  // graph_domain_rank: minimal pages whose j-th link targets host
  // (doc_id·j + j) % 20 — an IRREGULAR directed host graph (out-degrees
  // collapse where the residues collide, in-degrees spread unevenly), so
  // PageRank is genuinely non-uniform
  private val domA = "<a href=\"http://src"   // || (doc_id*j + j) % 20 ||
  private val domB = ".example.com/\">r</a>"
  // warc_main_text: record URIs for the packed archive blobs
  private val warcU1 = "http://w"              // || doc_id % 20 ||
  private val warcU2 = ".example.com/doc/"     // || doc_id
  private val dpSalt = "graft-dp-1"            // privacy_dp_counts
  private val dpEpsPpm = 693147L               // ε = ln 2
  // corpus_robots_screen: per-host robots bodies — a decoy named-agent
  // group the star resolution must SKIP, mixed-case/lowercase directives,
  // a crawl delay, /private + /item-{h%3} disallows with an
  // /item-{h%3}/ok allow override, an empty-value no-op Disallow,
  // RFC 9309 §2.2.3 wildcard rules (an anchored `/*.tmp$` disallow and a
  // `/private/*/pub` allow that out-specifies the literal /private), and
  // a full "/" block on h%7==0 hosts. Frontier: seven synthesized links
  // per doc — partial-segment prefix hits (item-10 vs item-1, the REP
  // subtlety), an always-blocked /private, the allow override, an
  // untouched /public path, a .tmp (anchor fires), a .tmpx (anchor must
  // NOT fire), and a /private/w{d}/pub (wildcard allow wins).
  private val robotsSitemapPre = "Sitemap: http://src" // || h ||
  private val robotsSitemapSuf = ".example.com/sitemap.xml\n"
  private val robotsHdr = "# graft politeness\nUser-agent: fetchbot\n" +
    "Disallow: /\n\nUser-agent: *\nCrawl-Delay: "   // || 1 + h%5
  private val robotsMid = "\ndisallow: /private\nDisallow: /item-" // || h%3
  private val robotsAllowPre = "\nAllow: /item-"    // || h%3
  private val robotsAllowSuf = "/ok\nDisallow:\n"
  // RFC 9309 §2.2.2 normalization fixtures: the /caf%C3%A9/ disallow must
  // block raw-UTF-8 /café/ paths (encoded-rule vs raw-path), the lowercase
  // %c3%a9 rule must still win as the longest match (hex-digit case), the
  // /café/okay allow ties the 11-octet disallow ONLY under octet_length
  // (10 chars vs 11 chars — char-length semantics would block it), and
  // the anchored *%C3%A9.log$ exercises wildcards in the hex domain
  private val robotsWild =
    "Disallow: /*.tmp$\nAllow: /private/*/pub\n" +
      "Disallow: /caf%C3%A9/\nDisallow: /caf%c3%a9/priv%C3%A9\n" +
      "Allow: /café/okay\nDisallow: /*%C3%A9.log$\n"
  private val robotsBlockAll = "Disallow: /\n"

  /** A string literal for DuckDB with embedded newlines spelled as
    * chr(10) — oracle SQL must stay single-line. */
  private def sqlLit(s: String): String =
    "'" + s.replace("\n", "' || chr(10) || '") + "'"

  /** DuckDB twin of [[graft.functions.Robots.canonHex]]: uppercase hex of
    * the percent-decoded octet sequence (`%XX` → octet XX, other chars →
    * their UTF-8 octets, a bare `%` → octet 0x25). `e` is any string
    * expression; `v` names the lambda variable and must not collide with
    * an enclosing lambda. */
  private def sqlCanonHex(e: String, v: String = "s"): String =
    // COALESCE: DuckDB array_to_string([]) is NULL (a %-free string has
    // an empty tail list) and would NULL the whole concatenation
    s"(upper(hex(encode(string_split($e, '%')[1]))) || COALESCE(array_to_string(" +
      s"list_transform(string_split($e, '%')[2:], $v -> " +
      s"CASE WHEN regexp_matches($v, '^[0-9A-Fa-f]{2}') " +
      s"THEN upper($v[1:2]) || upper(hex(encode($v[3:]))) " +
      s"ELSE '25' || upper(hex(encode($v))) END), ''), ''))"

  /** DuckDB CTE chain mirroring [[robotsInputs]] + the Robots parse/
    * screen pipeline: bodies rebuilt from the SAME constants (newlines as
    * chr(10)), the same window-math star-group resolution, the same
    * longest-prefix/allow-on-tie pick (row_number vs the engine's struct
    * max — identical order). Yields CTEs `scr(url, host, allowed,
    * matched_prefix)` and `rdelays(host, crawl_delay_s)`. */
  private def sqlRobotsScr: String =
    s"hosts AS (SELECT DISTINCT doc_id % 20 AS h FROM documents), " +
      s"rb AS (SELECT 'src' || h || '.example.com' AS host, ${sqlLit(robotsSitemapPre)} || h || ${sqlLit(robotsSitemapSuf)} || ${sqlLit(robotsHdr)} || (1 + h % 5) || ${sqlLit(robotsMid)} || (h % 3) || ${sqlLit(robotsAllowPre)} || (h % 3) || ${sqlLit(robotsAllowSuf)} || ${sqlLit(robotsWild)} || CASE WHEN h % 7 = 0 THEN ${sqlLit(robotsBlockAll)} ELSE '' END AS body FROM hosts), " +
      "rlines AS (SELECT host, unnest(string_split_regex(body, '\\r?\\n')) AS ln, generate_subscripts(string_split_regex(body, '\\r?\\n'), 1) AS pos FROM rb), " +
      "rpl AS (SELECT host, pos, trim(regexp_replace(ln, '#.*', '', 'g')) AS line FROM rlines), " +
      s"rdl AS (SELECT host, pos, lower(regexp_extract(line, '${Robots.DirectiveRe}', 1)) AS dir, trim(regexp_extract(line, '${Robots.ValueRe}', 1)) AS val FROM rpl), " +
      "rga AS (SELECT *, CASE WHEN dir = 'user-agent' THEN 1 ELSE 0 END AS is_ua FROM rdl), " +
      "rgb AS (SELECT *, CASE WHEN is_ua = 1 AND COALESCE(lag(is_ua) OVER (PARTITION BY host ORDER BY pos), 0) = 0 THEN 1 ELSE 0 END AS starts FROM rga), " +
      "rgc AS (SELECT *, sum(starts) OVER (PARTITION BY host ORDER BY pos) AS gid FROM rgb), " +
      "rstar AS (SELECT DISTINCT host, gid FROM rgc WHERE is_ua = 1 AND val = '*'), " +
      "rrules AS (SELECT host, val AS prefix, CASE WHEN dir = 'allow' THEN 1 ELSE 0 END AS is_allow FROM rgc JOIN rstar USING (host, gid) WHERE gid > 0 AND dir IN ('allow', 'disallow') AND val <> ''), " +
      // the engine's per-rule wildcard compile in the CANONICAL HEX
      // domain (RFC 9309 §2.2.2): trailing $ anchors, segments between
      // *s canonicalize via sqlCanonHex (alphabet [0-9A-F] — nothing to
      // escape), * -> (?:..)* (whole octets) — same regex text as
      // Robots.screen's
      s"rrx AS (SELECT host, prefix, is_allow, (contains(prefix, '*') OR ends_with(prefix, '$$')) AS wild, ${sqlCanonHex("prefix")} AS pfx_hex, '^' || array_to_string(list_transform(string_split(CASE WHEN ends_with(prefix, '$$') THEN substr(prefix, 1, len(prefix) - 1) ELSE prefix END, '*'), seg -> ${sqlCanonHex("seg", "s2")}), '(?:..)*') || CASE WHEN ends_with(prefix, '$$') THEN '$$' ELSE '' END AS rx FROM rrules), " +
      "rdelays AS (SELECT host, max(CAST(val AS BIGINT)) AS crawl_delay_s FROM rgc JOIN rstar USING (host, gid) WHERE dir = 'crawl-delay' AND regexp_matches(val, '^[0-9]+$') GROUP BY 1), " +
      "rf0 AS (SELECT unnest(['http://src' || (doc_id % 20) || '.example.com/item-' || (doc_id % 11) || '/x' || doc_id, " +
      "'http://src' || ((doc_id + 3) % 20) || '.example.com/private/p' || doc_id, " +
      "'http://src' || ((doc_id + 5) % 20) || '.example.com/item-' || (((doc_id + 5) % 20) % 3) || '/ok/p' || doc_id, " +
      "'http://src' || (doc_id % 20) || '.example.com/public/' || doc_id, " +
      "'http://src' || (doc_id % 20) || '.example.com/files/f' || doc_id || '.tmp', " +
      "'http://src' || ((doc_id + 7) % 20) || '.example.com/files/f' || doc_id || '.tmpx', " +
      "'http://src' || ((doc_id + 3) % 20) || '.example.com/private/w' || doc_id || '/pub', " +
      "'http://src' || (doc_id % 20) || '.example.com/café/menu' || doc_id, " +
      "'http://src' || ((doc_id + 9) % 20) || '.example.com/café/okay' || doc_id, " +
      "'http://src' || ((doc_id + 11) % 20) || '.example.com/café/privé' || doc_id, " +
      "'http://src' || ((doc_id + 13) % 20) || '.example.com/logs/entré' || doc_id || '.log', " +
      "'http://src' || ((doc_id + 15) % 20) || '.example.com/logs/e' || doc_id || 'ntré.log']) AS url FROM documents), " +
      s"rff AS (SELECT url, lower(regexp_extract(url, '${Urls.HostRe}', 1)) AS host, CASE WHEN regexp_extract(regexp_extract(url, '${Urls.RestRe}', 1), '^([^?]*)', 1) = '' THEN '/' ELSE regexp_extract(regexp_extract(url, '${Urls.RestRe}', 1), '^([^?]*)', 1) END AS path FROM rf0), " +
      s"rfh AS (SELECT *, ${sqlCanonHex("path")} AS path_hex FROM rff), " +
      // octet specificity: strlen = BYTES in DuckDB (mirrors the engine's
      // octet_length), matching runs on the canonical hex domain
      "rmm AS (SELECT rfh.url, rfh.host, r.prefix, r.is_allow, row_number() OVER (PARTITION BY rfh.url ORDER BY strlen(r.prefix) DESC, r.is_allow DESC, r.prefix DESC) AS rn FROM rfh JOIN rrx r ON rfh.host = r.host AND ((NOT r.wild AND starts_with(rfh.path_hex, r.pfx_hex)) OR (r.wild AND regexp_matches(rfh.path_hex, r.rx)))), " +
      "rbest AS (SELECT url, prefix, is_allow FROM rmm WHERE rn = 1), " +
      "scr AS (SELECT rff.url, rff.host, COALESCE(b.is_allow = 1, TRUE) AS allowed, b.prefix AS matched_prefix FROM rff LEFT JOIN rbest b ON rff.url = b.url)"

  /** The synthesized (robots bodies, outlink frontier) pair shared by the
    * two robots queries — hosts are the 20 link-graph hosts, bodies and
    * links derive deterministically from doc ids (constants above, the
    * oracle re-derives both in SQL). */
  private def robotsInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val h = col("h")
    val robots = docs.select((col("doc_id") % 20).as("h")).distinct()
      .select(
        concat(lit("src"), h.cast("string"), lit(".example.com")).as("host"),
        concat(lit(robotsSitemapPre), h.cast("string"),
          lit(robotsSitemapSuf),
          lit(robotsHdr), (lit(1) + h % 5).cast("string"),
          lit(robotsMid), (h % 3).cast("string"),
          lit(robotsAllowPre), (h % 3).cast("string"), lit(robotsAllowSuf),
          lit(robotsWild),
          when(h % 7 === 0, lit(robotsBlockAll)).otherwise(lit("")))
          .as("body"))
    val d = col("doc_id")
    def u(hostExpr: Column, tail: Column) = concat(lit("http://src"),
      hostExpr.cast("string"), lit(".example.com"), tail)
    val frontier = docs.select(explode(array(
      u(d % 20, concat(lit("/item-"), (d % 11).cast("string"), lit("/x"),
        d.cast("string"))),
      u((d + 3) % 20, concat(lit("/private/p"), d.cast("string"))),
      u((d + 5) % 20, concat(lit("/item-"), (((d + 5) % 20) % 3).cast("string"),
        lit("/ok/p"), d.cast("string"))),
      u(d % 20, concat(lit("/public/"), d.cast("string"))),
      u(d % 20, concat(lit("/files/f"), d.cast("string"), lit(".tmp"))),
      u((d + 7) % 20, concat(lit("/files/f"), d.cast("string"),
        lit(".tmpx"))),
      u((d + 3) % 20, concat(lit("/private/w"), d.cast("string"),
        lit("/pub"))),
      u(d % 20, concat(lit("/café/menu"), d.cast("string"))),
      u((d + 9) % 20, concat(lit("/café/okay"), d.cast("string"))),
      u((d + 11) % 20, concat(lit("/café/privé"), d.cast("string"))),
      u((d + 13) % 20, concat(lit("/logs/entré"), d.cast("string"),
        lit(".log"))),
      // MATCH direction of the anchored hex wildcard (*%C3%A9.log$):
      // the entry above can never match it (digits sit between é and
      // .log), so this one ends in é.log — both rule outcomes are
      // oracle-verified, not just the non-match
      u((d + 15) % 20, concat(lit("/logs/e"), d.cast("string"),
        lit("ntré.log"))))).as("url"))
    (robots, frontier)
  }
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

  /** Directed preference comparisons for the pref_* family: within each
    * order, every line-pair with distinct quantities and distinct brands
    * votes "higher-quantity brand beats lower" — a deterministic pairwise-
    * preference log at brand grain (the RLHF-comparison shape, derived
    * from data both engines share). */
  private def prefComparisons(s: SparkSession, dir: String): DataFrame =
    promptComparisons(s, dir).select(col("w"), col("l"))

  /** The ONE comparison-log derivation (the order key is the prompt every
    * comparison answers — the shape per-prompt DPO pair construction
    * needs; [[prefComparisons]] is this minus the prompt column, so the
    * comparison semantics have a single source of truth). */
  private def promptComparisons(s: SparkSession, dir: String): DataFrame =
    promptComparisonsFrom(t(s, dir, "lineitem"), t(s, dir, "part"))

  /** Frame-parameterized core of [[promptComparisons]] — `ScaleProbe`'s
    * bucketed-storage A/B feeds it an orderkey-bucketed lineitem table
    * so the self-join's exchange drops out of the plan. */
  private[graft] def promptComparisonsFrom(lineitem: DataFrame,
                                           part: DataFrame): DataFrame = {
    val a = lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_partkey"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"),
        struct(col("l_linenumber").as("ln"), col("l_quantity").as("q"),
          col("p_brand").as("b")).as("_m"))
    // in-bucket pair emission (the lshCandidates shape, §2.4): ONE
    // exchange groups an order's lines (≤ 7 per the TPC-H generator —
    // bounded, so the per-group list is skew-free), then ordered pairs
    // explode in place — where the former self-join scanned+joined `a`
    // twice and paid two sorts for its sort-merge. sort_array orders by
    // ln first (lexicographic struct compare), so pairing index i with
    // the strictly-later slice reproduces exactly the x.ln < y.ln
    // orientation; equal-ln pairs are filtered exactly as the old strict
    // inequality did.
    a.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("_m"))).as("_ms"))
      .select(col("l_orderkey"),
        posexplode(col("_ms")).as(Seq("_i", "_x")), col("_ms"))
      .select(col("l_orderkey"), col("_x"),
        explode(slice(col("_ms"), col("_i") + lit(2), size(col("_ms"))))
          .as("_y"))
      .filter(col("_x.ln") < col("_y.ln") &&
        col("_x.q") =!= col("_y.q") && col("_x.b") =!= col("_y.b"))
      .select(col("l_orderkey").as("prompt"),
        when(col("_x.q") > col("_y.q"), col("_x.b"))
          .otherwise(col("_y.b")).as("w"),
        when(col("_x.q") > col("_y.q"), col("_y.b"))
          .otherwise(col("_x.b")).as("l"))
  }

  /** DuckDB-side whitespace tokenization identical to TextFunctions.tokens. */
  private val sqlToks =
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)"

  /** DuckDB replay of one [[graft.functions.Bpe.trainStats]] round over the
    * positions frame `p{i-1}(word, freq, pos, tok)`: adjacent-pair counts
    * `c{i}` → argmax `b{i}` (cnt DESC, l, r; minCount 2) → greedy-leftmost
    * merge application into `p{i}`. Greedy is window math, not a fold:
    * overlapping matches of pair (a,b) exist only when a = b (a match at
    * pos i and i+1 forces tok[i+1] = b = a), so within each island of
    * consecutive matching positions greedy takes the 1st, 3rd, … match —
    * the gaps-and-islands parity rule. `LEFT JOIN ON TRUE` makes an empty
    * `b{i}` a no-op round (`p{i}` = `p{i-1}`), so the oracle's fixed 4
    * rounds agree with the engine's early stop at minCount. */
  private def sqlBpeRound(i: Int): String = {
    val p = s"p${i - 1}"
    s"c$i AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM " +
      "(SELECT freq, tok AS l, lead(tok) OVER (PARTITION BY word ORDER BY pos) AS r " +
      s"FROM $p) WHERE r IS NOT NULL GROUP BY l, r), " +
      s"b$i AS (SELECT l, r, cnt FROM c$i WHERE cnt >= 2 ORDER BY cnt DESC, l, r LIMIT 1), " +
      s"m$i AS (SELECT p.word, p.freq, p.pos, p.tok, b.l AS bl, b.r AS br, " +
      "CASE WHEN p.tok = b.l AND lead(p.tok) OVER (PARTITION BY p.word ORDER BY p.pos) = b.r " +
      s"THEN 1 ELSE 0 END AS hit FROM $p p LEFT JOIN b$i b ON TRUE), " +
      s"g$i AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - " +
      s"ROW_NUMBER() OVER (PARTITION BY word, hit ORDER BY pos) AS grp FROM m$i), " +
      s"t$i AS (SELECT *, CASE WHEN hit = 1 AND " +
      "ROW_NUMBER() OVER (PARTITION BY word, grp, hit ORDER BY pos) % 2 = 1 " +
      s"THEN 1 ELSE 0 END AS tk FROM g$i), " +
      s"d$i AS (SELECT *, COALESCE(lag(tk) OVER (PARTITION BY word ORDER BY pos), 0) AS used FROM t$i), " +
      s"p$i AS (SELECT word, freq, CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos, " +
      s"CASE WHEN tk = 1 THEN bl || br ELSE tok END AS tok FROM d$i WHERE used = 0), "
  }

  /** DuckDB mirror of [[prefComparisons]] up to the raw comparison CTEs
    * `c(w, l)` / `dc(w, l, n)` — the shared prefix of every pref_*
    * oracle. Kept as its OWN constant (not recovered by suffix-stripping
    * [[sqlPrefSym]]) so the alpha oracle, which needs the raw stream
    * rather than the symmetric pair frame, cannot silently drift if the
    * sym CTE's text changes. */
  private val sqlPrefDc =
    "WITH a AS (SELECT l_orderkey, l_linenumber, l_quantity, p_brand " +
      "FROM lineitem JOIN part ON l_partkey = p_partkey), " +
      "e AS (SELECT x.p_brand AS bx, y.p_brand AS bb, x.l_quantity AS qx, y.l_quantity AS qy " +
      "FROM a x JOIN a y ON x.l_orderkey = y.l_orderkey AND x.l_linenumber < y.l_linenumber " +
      "WHERE x.l_quantity <> y.l_quantity AND x.p_brand <> y.p_brand), " +
      "c AS (SELECT CASE WHEN qx > qy THEN bx ELSE bb END AS w, " +
      "CASE WHEN qx > qy THEN bb ELSE bx END AS l FROM e), " +
      "dc AS (SELECT w, l, count(*) AS n FROM c GROUP BY 1, 2), "

  /** DuckDB mirror of [[prefComparisons]] + [[graft.functions.Preference.pairFrame]]:
    * CTE chain ending in `sym(i, j, nij, wij)`, the symmetric pair frame
    * both pref_* oracles read. */
  private val sqlPrefSym =
    sqlPrefDc +
      "sym AS (SELECT i, j, CAST(sum(n) AS BIGINT) AS nij, CAST(sum(wi) AS BIGINT) AS wij " +
      "FROM (SELECT w AS i, l AS j, n, n AS wi FROM dc " +
      "UNION ALL SELECT l AS i, w AS j, n, 0 AS wi FROM dc) GROUP BY i, j), "

  /** Unrolled k-step exact greedy max-coverage over 3-gram shingles —
    * the oracle of both the sequential operator and its CELF lazy-queue
    * twin (output-identical by construction, so they share one text). */
  private def sqlMaxcoverGreedy(k: Int): String = {
    val prefix = s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
      s"sh AS (SELECT doc_id, $sqlShingles3 AS shs FROM t), " +
      "p AS (SELECT doc_id, unnest(shs) AS s FROM sh), " +
      "w1 AS (SELECT doc_id, count(*) AS g FROM p GROUP BY 1 " +
      "ORDER BY g DESC, doc_id LIMIT 1), " +
      "c1 AS (SELECT p.s FROM p JOIN w1 ON p.doc_id = w1.doc_id), "
    val steps = (2 to k).map { r =>
      s"w$r AS (SELECT doc_id, count(*) AS g FROM p " +
        s"WHERE s NOT IN (SELECT s FROM c${r - 1}) GROUP BY 1 " +
        "ORDER BY g DESC, doc_id LIMIT 1), " +
        s"c$r AS (SELECT s FROM c${r - 1} UNION ALL " +
        s"SELECT p.s FROM p JOIN w$r ON p.doc_id = w$r.doc_id), "
    }.mkString
    prefix + steps.stripSuffix(", ") +
      " SELECT * FROM (SELECT CAST(1 AS INTEGER) AS step, doc_id, g AS gain FROM w1" +
      (2 to k).map(r => s" UNION ALL SELECT $r, doc_id, g FROM w$r").mkString +
      ") ORDER BY step"
  }

  /** Shared CTE prefix for the BPE oracles: vocabulary, the round-0
    * positions table, and `n` unrolled merge rounds (ends with a
    * trailing comma-space; callers append a final CTE or strip it). */
  private def sqlBpeRoundsN(n: Int): String =
    s"WITH w AS (SELECT unnest($sqlToks) AS word FROM documents), " +
      "wc AS (SELECT word, count(*) AS freq FROM w GROUP BY word), " +
      "px AS (SELECT word, freq, unnest(range(1, length(word) + 1)) AS pos FROM wc), " +
      "p0 AS (SELECT word, freq, pos, substring(word, pos, 1) AS tok FROM px), " +
      (1 to n).map(sqlBpeRound).mkString

  private val sqlBpeRounds = sqlBpeRoundsN(4)

  /** DuckDB CTE chain mirroring [[graft.functions.Dedup.paragraphFingerprints]]
    * (blank-line segments, 40-token block fallback, md5 fingerprints);
    * yields CTE `fps(doc_id, fp)`. Shared by both paragraph oracles. */
  private val sqlParagraphFps =
    "segs AS (SELECT doc_id, unnest(string_split_regex(text, '\\n{2,}')) AS seg FROM documents), " +
      "ptoks AS (SELECT doc_id, list_filter(string_split_regex(lower(seg), '\\s+'), x -> len(x) > 0) AS tk FROM segs), " +
      "nz AS (SELECT doc_id, tk FROM ptoks WHERE len(tk) > 0), " +
      "blocks AS (SELECT doc_id, unnest(range(((len(tk) - 1) // 40) + 1)) AS gi, tk FROM nz), " +
      "fps AS (SELECT doc_id, md5(array_to_string(tk[(gi*40+1):(gi*40+40)], ' ')) AS fp FROM blocks)"

  /** DuckDB CTE chain mirroring [[graft.functions.Urls.canonicalize]]:
    * computes canonical URL `cu` from column `url` of CTE `src`, carrying
    * `carry` columns through. Shared by every URL oracle so the
    * canonicalization SQL cannot drift between them; every regex
    * interpolates from the SAME constants the engine compiles. */
  private def sqlCanonChain(src: String, carry: Seq[String]): String = {
    def sel(cols: String*) = (carry ++ cols).mkString(", ")
    s"nf AS (SELECT ${sel("regexp_replace(url, '" + Urls.FragmentRe + "', '', 'g') AS n")} FROM $src), " +
      s"parts AS (SELECT ${sel(
        s"lower(regexp_extract(n, '${Urls.SchemeRe}', 1)) AS scheme",
        s"lower(regexp_extract(n, '${Urls.HostRe}', 1)) AS hostport",
        s"regexp_extract(n, '${Urls.RestRe}', 1) AS pathq")} FROM nf), " +
      s"withq AS (SELECT ${sel("scheme", "hostport", "pathq",
        "list_sort(list_filter(string_split(regexp_extract(pathq, '\\?(.*)', 1), '&'), " +
          s"p -> p <> '' AND NOT regexp_matches(p, '${Urls.TrackingParamRe}'))) AS ps")} FROM parts), " +
      s"canon AS (SELECT ${sel("scheme || '://' || " +
        s"regexp_replace(CASE WHEN scheme = 'http' THEN regexp_replace(hostport, '${Urls.HttpPortRe}', '') " +
        s"WHEN scheme = 'https' THEN regexp_replace(hostport, '${Urls.HttpsPortRe}', '') " +
        s"ELSE hostport END, '${Urls.WwwRe}', '') || " +
        "(CASE WHEN rtrim(regexp_extract(pathq, '^([^?]*)', 1), '/') = '' THEN '/' " +
        "ELSE rtrim(regexp_extract(pathq, '^([^?]*)', 1), '/') END) || " +
        "(CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END) AS cu")} FROM withq)"
  }

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

  /** DuckDB twin of [[graft.functions.Html.visibleText]] over expression
    * `x`: tags → space, entity decode in Html.Entities order (`&amp;`
    * last), whitespace collapse, trim. Patterns interpolate from the SAME
    * constants the engine compiles, so the two sides cannot drift. */
  private def sqlVisible(x: String): String = {
    val decoded = Html.Entities.foldLeft(
      s"regexp_replace($x, '${Html.TagRe}', ' ', 'g')") {
      case (acc, (from, to)) =>
        val toQ = if (to == "'") "''" else to
        s"replace($acc, '$from', '$toQ')"
    }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** Shared DuckDB CTE prefix for the DSIR oracles: tokens → hashed
    * unigram+bigram buckets → target (src0) / raw counts → per-raw-doc
    * DECIMAL sums of the ln-likelihood-ratio term (`s`), mirroring
    * [[graft.functions.Dsir.importanceWeights]] with buckets = 4096
    * (0.5·buckets = 2048 in the smoothing denominators). */
  private def dsirWeightsSql: String =
    s"WITH d AS (SELECT doc_id, source, $sqlToks AS toks FROM documents), " +
      "f AS (SELECT doc_id, source, unnest(list_concat(" +
      "list_transform(toks, t -> ('0x' || substring(md5(t), 1, 8))::BIGINT % 4096), " +
      "list_transform(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
      "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END, " +
      "g -> ('0x' || substring(md5(g), 1, 8))::BIGINT % 4096))) AS b FROM d), " +
      "tc AS (SELECT b, count(*) AS ct FROM f WHERE source = 'src0' GROUP BY b), " +
      "rc AS (SELECT b, count(*) AS cr FROM f WHERE source <> 'src0' GROUP BY b), " +
      "tot AS (SELECT (SELECT count(*) FROM f WHERE source = 'src0') AS nt, " +
      "(SELECT count(*) FROM f WHERE source <> 'src0') AS nr), " +
      "s AS (SELECT doc_id, count(*) AS n_feats, " +
      "sum(CAST(ln(((COALESCE(ct, 0) + 0.5) / (nt + 2048.0)) / " +
      "((COALESCE(cr, 0) + 0.5) / (nr + 2048.0))) AS DECIMAL(27,12))) AS s " +
      "FROM f LEFT JOIN tc USING (b) LEFT JOIN rc USING (b) CROSS JOIN tot " +
      "WHERE source <> 'src0' GROUP BY doc_id) "

  /** DuckDB twin of `TextFunctions.langId` — shared by `text_langid` and
    * the stratified-sampling oracle. */
  /** Shared body (t → s → the argmax pick as CTE `lg`) so text_langid and
    * corpus_lang_confusion read the same predictor. */
  private def langIdBodySql: String =
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

  private def langIdOracleSql: String =
    s"WITH $langIdBodySql SELECT doc_id, lang_guess FROM lg"

  /** DuckDB twin of Dedup.Md5Hasher.md5Long: 60-bit long from the md5 hex
    * prefix — (hex[1,7] << 32) | hex[9,16]; every intermediate < 2^60 so
    * BIGINT can't overflow. */
  private def sqlMd5Long(s: String): String =
    s"((('0x' || substring(md5($s), 1, 7))::BIGINT << 32) | " +
      s"('0x' || substring(md5($s), 9, 8))::BIGINT)"

  /** DuckDB twin of Sampling.stableBucket(id, 1 << 30) — the stable-hash
    * spread order behind stableCappedSample and the bitext bucket caps. */
  private val sqlStableBucket30 =
    "(('0x' || substring(md5(id::VARCHAR), 1, 8))::BIGINT % 1073741824)"

  /** DuckDB twin of the distinct word-3-gram shingling used by the dedup
    * queries (TextFunctions.wordShingles(text, 3)). */
  private val sqlShingles3 =
    "list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
      "ELSE list_transform(range(1, len(toks) - 1), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END)"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TpchGraph.customerDocs(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- tube-parity: full pipelines ------------------------------------
    "tube_customer_doc" -> ((s, dir) => driverSafe(TpchGraph.customerDocs(s, dir))),
    "tube_collector_doc" -> ((s, dir) => driverSafe(TpchGraph.accountDocs(s, dir))),

    // config-driven entry: Gen3-style dictionary JSON + link-name etlMapping
    // YAML → DictionaryLoader → Translator (the reference deployment's
    // on-ramp, DictDemo)
    "dict_customer_doc" -> ((s, dir) => driverSafe(DictDemo.docs(s, dir))),

    // full multi-index lifecycle: phase 0 per index, then joining_props in
    // topological order (producer nation_doc finishes first, consumer joins
    // its finished documents on the shared key) — reference
    // interpreter.py:34-62
    "tube_runall_join" -> ((s, dir) => {
      val producer = IndexMapping(
        name = "nation_doc", docType = "nation", root = "nation",
        props = Seq(PropDef("nation_name", "n_name")),
        parentProps = Seq(ParentChainDef(Seq(
          PathStep("region", Seq(PropDef("region_name", "r_name")))),
          relation = "1-1")))
      val consumer = IndexMapping(
        name = "customer_join", docType = "customer", root = "customer",
        props = Seq(PropDef("c_name", "c_name")),
        parentProps = Seq(ParentChainDef(Seq(
          PathStep("nation", Seq(PropDef("nation_name", "n_name")))),
          relation = "1-1")),
        joiningProps = Seq(JoiningDef("nation_doc", Seq("nation_name"),
          Seq(PropDef("region_name", "region_name")))))
      Translator.runAll(TpchGraph.schema, TpchGraph.source(s, dir),
          EtlMapping(Seq(consumer, producer)))("customer_join")
        .select(col("_customer_id"), col("c_name"), col("nation_name"),
          col("region_name"))
    }),

    // ---- P1/P2: projection + rename + enum recode -----------------------
    "p1_project_recode" -> ((s, dir) =>
      Project.props(t(s, dir, "customer"), Seq(col("c_custkey")), Seq(
        PropDef("name", "c_name"),
        PropDef("segment", "c_mktsegment",
          valueMappings = Map("BUILDING" -> "B", "AUTOMOBILE" -> "A"))))),

    // ---- P5: filter DSL compiled to a Catalyst Column -------------------
    "p5_filter_dsl" -> ((s, dir) =>
      t(s, dir, "orders").filter(FilterDsl.compile(FilterAnd(Seq(
          FilterLeaf(">", "o_totalprice", 100000),
          FilterOr(Seq(
            FilterLeaf("=", "o_orderstatus", "F"),
            FilterLeaf("in", "o_orderpriority", Seq("1-URGENT", "2-HIGH"))))))))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))),

    // ---- P6/P7: project_id synthesis + auth_resource_path (with a
    // user.yaml-style per-project override, reference post_process.py:7-44)
    "p6_auth_path" -> ((s, dir) =>
      t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("_nation_id"),
          Project.projectId(col("r_name"), col("n_name")).as("project_id"))
        .withColumn("auth_resource_path",
          Project.authResourcePath(col("project_id"),
            overrides = Map("CHINA" -> "/custom/china")))),

    // ---- J2: graph hops -------------------------------------------------
    "j2_hop_join" -> ((s, dir) => {
      val src = TpchGraph.source(s, dir)
      val c = src.nodeDf("customer").select(col("_customer_id"))
      val withNation = GraphOps.hop(c, src.edgeDf("customer", "nation"),
          "_customer_id")
        .join(src.nodeDf("nation")
          .select(col("_nation_id"), col("n_name").as("nation_name"),
            col("n_regionkey").as("_region_id")), Seq("_nation_id"))
      withNation
        .join(broadcast(src.nodeDf("region")
          .select(col("_region_id"), col("r_name").as("region_name"))),
          Seq("_region_id"))
        .select(col("_customer_id"), col("nation_name"), col("region_name"))
    }),

    // ---- J3 set-relation parent chain over a genuinely fan-out edge:
    // orders' parts (via lineitem as the many_to_many edge table) collect
    // into a sorted set per order — exercises the edge-side set walk
    // (Translator "1-n" branch) under real multi-parent fan-out -----------
    "j3_set_chain" -> ((s, dir) => driverSafe {
      val schema = GraphSchema(
        nodes = Seq(
          NodeDef("orders", "orders", Map("o_orderstatus" -> StringType), "txn"),
          NodeDef("part", "part", Map("p_brand" -> StringType), "catalog")),
        links = Seq(LinkDef("orders", "part", "edge_orders_part",
          "many_to_many", "orders", "parts")))
      val nodeDf: String => DataFrame = {
        case "orders" => t(s, dir, "orders")
          .withColumn("_orders_id", col("o_orderkey"))
        case "part" => t(s, dir, "part")
          .withColumn("_part_id", col("p_partkey"))
        case other => throw new NoSuchElementException(other)
      }
      val edgeDf: (String, String) => DataFrame = {
        case ("orders", "part") => t(s, dir, "lineitem")
          .select(col("l_orderkey").as("_orders_id"),
            col("l_partkey").as("_part_id"))
        case (c, p) => throw new NoSuchElementException(s"$c->$p")
      }
      new Translator(schema, new GraphSource(nodeDf, edgeDf))
        .translate(IndexMapping(
          name = "orders_parts", docType = "orders", root = "orders",
          props = Seq(PropDef("o_orderstatus", "o_orderstatus")),
          parentProps = Seq(ParentChainDef(Seq(
            PathStep("part", Seq(PropDef("part_brands", "p_brand")))),
            relation = "1-n"))))
    }),

    // ---- A1: agg-function factory ---------------------------------------
    "a1_agg_basic" -> ((s, dir) => driverSafe(
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          AggExpr.agg("count", col("l_quantity")).as("n_items"),
          AggExpr.agg("sum",
            col("l_quantity").cast(DecimalType(18, 2))).as("sum_qty"),
          AggExpr.agg("min", col("l_extendedprice")).as("min_price"),
          AggExpr.agg("max", col("l_extendedprice")).as("max_price"),
          AggExpr.agg("countd", col("l_partkey")).as("n_parts")))),

    "a1_set_list" -> ((s, dir) => driverSafe(
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          AggExpr.agg("set", col("c_mktsegment")).as("segments"),
          AggExpr.agg("countd", col("c_name")).as("n_names")))),

    // ---- A1 under skew: salted two-stage aggregation must be transparent
    // (same oracle shape as a1_agg_basic — proves the salt/merge algebra) --
    "a1_salted_agg" -> ((s, dir) => driverSafe(
      Skew.saltedAgg(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), spread = col("l_orderkey"),
        salts = 16,
        Seq(("n_items", "count", col("l_quantity")),
          ("sum_qty", "sum", col("l_quantity").cast(DecimalType(18, 2))),
          ("mx_price", "max", col("l_extendedprice")))))),

    // ---- A2: multi-hop aggregation path as one plan ---------------------
    "a2_agg_tree" -> ((s, dir) => driverSafe {
      val src = TpchGraph.source(s, dir)
      // leaf rides on the LAST HOP key (_orders_id), not a leaf-id
      // self-join: lineitem's composite key is non-unique in this corpus,
      // and an id-join over duplicate ids would multiply rows (graph node
      // ids must be unique for id-joins — see GraphOps.aggPath note)
      GraphOps.aggPath(
        src.nodeDf("customer").select(col("_customer_id")), "_customer_id",
        Seq((src.edgeDf("orders", "customer"), "_customer_id")),
        Some((src.nodeDf("lineitem").select(
          col("l_orderkey").as("_orders_id"), col("_lineitem_id"),
          col("l_quantity").cast(DecimalType(18, 2)).as("l_qty_dec")),
          "_orders_id")),
        Seq(("n_li", "countd", col("_lineitem_id")),
          ("sum_qty", "sum", col("l_qty_dec"))))
    }),

    // ---- A5: nested array-of-struct documents, hash-checked via CANONICAL
    // serialization: each two-level doc (nation → customers → orders)
    // collapses to a deterministic string — orders as sorted
    // "price:id" CSV, customers as sorted "name@acctbal@[orders]@id"
    // '|'-joins, numbers decimal-cast so both engines print identically.
    // The oracle rebuilds the same string from plain joins, so the nested
    // CONSTRUCTION (grouping, filters, null semantics) is exactly checked,
    // not just row counts ------------------------------------------------
    "a5_nested_docs" -> ((s, dir) => {
      val src = TpchGraph.source(s, dir)
      val t = new Translator(TpchGraph.schema, src)
      val docs = t.translate(IndexMapping(
        name = "nation_nested", docType = "nation", root = "nation",
        props = Seq(PropDef("n_name", "n_name")),
        nestedProps = Seq(NestedDef(
          name = "customers", path = Seq("customer"),
          props = Seq(PropDef("c_name", "c_name"), PropDef("c_acctbal", "c_acctbal")),
          children = Seq(NestedDef(
            name = "orders", path = Seq("orders"),
            props = Seq(PropDef("o_totalprice", "o_totalprice")),
            filter = Some(FilterLeaf(">", "o_totalprice", 0))))))))
      val orderS = (o: Column) => concat(
        o.getField("o_totalprice").cast(DecimalType(18, 2)).cast("string"),
        lit(":"), o.getField("_orders_id").cast("string"))
      val custS = (c: Column) => concat(
        c.getField("c_name"), lit("@"),
        c.getField("c_acctbal").cast(DecimalType(18, 2)).cast("string"),
        lit("@["),
        // orders is null for a customer with no qualifying orders —
        // coalesce AFTER the join so concat can't null the whole row
        coalesce(array_join(array_sort(transform(
          c.getField("orders"), orderS)), ","), lit("")),
        lit("]@"), c.getField("_customer_id").cast("string"))
      docs.select(col("_nation_id"), col("n_name"),
        coalesce(array_join(array_sort(transform(col("customers"), custS)), "|"),
          lit("")).as("customers_canon"))
    }),

    // nested-doc content IS oracle-checkable once exploded back to rows:
    // build the array-of-struct column, then flatten it — pins the
    // collect_list(struct) construction against a plain-join oracle
    "a5_nested_roundtrip" -> ((s, dir) => {
      val src = TpchGraph.source(s, dir)
      val docs = new Translator(TpchGraph.schema, src).translate(IndexMapping(
        name = "nation_nested_rt", docType = "nation", root = "nation",
        props = Seq(PropDef("n_name", "n_name")),
        nestedProps = Seq(NestedDef("customers", Seq("customer"),
          Seq(PropDef("c_name", "c_name"), PropDef("c_acctbal", "c_acctbal"))))))
      docs.select(col("_nation_id"), col("n_name"),
          explode(col("customers")).as("c"))
        .select(col("_nation_id"), col("n_name"),
          col("c.c_name").as("c_name"), col("c.c_acctbal").as("c_acctbal"),
          col("c._customer_id").as("_customer_id"))
    }),

    // ---- A4: top-1-per-group via max_by(struct) -------------------------
    "a4_sorted_first" -> ((s, dir) =>
      GraphOps.sortedFirst(t(s, dir, "lineitem"), "l_orderkey",
        struct(col("l_extendedprice"), col("l_linenumber")), descending = true,
        Seq(col("l_partkey").as("top_partkey"),
          col("l_quantity").as("top_qty")))),

    // ---- J4: index-to-index join with per-key aggregation ---------------
    "j4_index_join" -> ((s, dir) => driverSafe(
      GraphOps.indexJoin(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey"),
        Seq("c_custkey"),
        Seq((PropDef("priorities", "o_orderpriority"), Some("set")),
          (PropDef("n_orders", "o_orderkey"), Some("count")))))),

    // ---- J6 (beyond-parity): as-of + bounded interval joins -------------
    // each event gains the issuing day's order state (count + exact-decimal
    // total) of the LATEST order day at or before the event — the
    // union-and-sort as-of join: one shuffle, no join node, nothing
    // quadratic for the planner to mis-plan
    "j6_asof_join" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      val ordersByDay = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"),
          // orders dates are µs-parquet NTZ; session is UTC, cast is exact
          unix_micros(col("o_orderdate").cast(TimestampType)).as("order_us"))
        .agg(count(lit(1)).as("day_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("day_total"))
      driverSafe(
        TemporalJoin.asofJoin(ev, ordersByDay, "user_id", "ts_us", "order_us"))
    }),

    // click → purchases of the same user within 45 min, as a batch
    // bucketed-equi-join (the streaming twin is events_stream_attrib):
    // the range predicate never reaches the planner as a theta join
    "j6_interval_join" -> ((s, dir) => {
      val ev = events(s, dir)
      TemporalJoin.intervalJoin(
        ev.filter(col("event_type") === "click")
          .select(col("event_id").as("from_id"), col("user_id"),
            unix_micros(col("ts")).as("from_us")),
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("to_id"), col("user_id"),
            unix_micros(col("ts")).as("to_us")),
        "user_id", "from_us", "to_us",
        lowerUs = 0L, upperUs = 45L * 60 * 1000000)
    }),

    // ---- entity resolution: token-blocked fuzzy matching ----------------
    // candidate pairs only from shared-token blocks (capped postings),
    // Levenshtein verify on candidates alone — never all-pairs
    "er_fuzzy_match" -> ((s, dir) => {
      val entities = t(s, dir, "part")
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_rows"))
      Linkage.blockedFuzzyPairs(entities, "name", "n_rows",
          maxDist = 3, tokenCap = 40)
        .withColumn("dist", col("dist").cast("long"))
    }),

    // ER survivorship: fuzzy pairs → connected components → one golden
    // record per cluster (canonical = min member name, the same
    // deterministic canonicalization as dedup groups; support sums)
    "er_golden" -> ((s, dir) => {
      val entities = t(s, dir, "part")
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_rows"))
      val pairs = Linkage.blockedFuzzyPairs(entities, "name", "n_rows",
          maxDist = 3, tokenCap = 40)
        .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
      val comps = Dedup.componentsFromPairs(pairs, iters = 10)
      entities
        .join(comps.withColumnRenamed("id", "name"), Seq("name"), "left")
        .withColumn("cluster", coalesce(col("comp"), col("name")))
        .groupBy("cluster")
        .agg(sum(col("n_rows")).as("total_rows"),
          count(lit(1)).as("n_variants"))
    }),

    // ---- SCD2 dimension history (gaps & islands) ------------------------
    // per-customer priority history from order observations: repeated
    // states collapse, validity ranges chain half-open, current row open
    "dim_scd2" -> ((s, dir) => {
      val obs = t(s, dir, "orders")
        .groupBy(col("o_custkey"),
          unix_micros(col("o_orderdate").cast(TimestampType)).as("order_us"))
        .agg(min(col("o_orderpriority")).as("priority"))
      Scd.history(obs, "o_custkey", "order_us", Seq("priority"))
    }),

    // ---- graph centrality: integer fixed-point PageRank -----------------
    // part↔supplier bipartite graph from distinct lineitem pairs, both
    // orientations (⇒ no dangling nodes); 3 rounds, u12 units, floor
    // division everywhere ⇒ bit-identical across partitionings and engines.
    // Node ids are LONGS (2·part / 2·supp+1, disjoint by parity): long
    // keys keep the distinct/degree/join stages in codegen'd hash
    // aggregation — measured ~2× over string-concat node keys
    "graph_pagerank" -> ((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val fwd = pairs.select(
        (col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = fwd.union(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      PageRank.run(edges, "src", "dst", iters = 3)
    }),

    // foreign-key DISCOVERY (schema profiling, Rostin et al. 2009 class):
    // for each candidate column pair, distinct counts, inclusion
    // coefficient and parent-uniqueness — the real FKs score
    // inclusion = 10^6 with a unique parent, the planted negative
    // control does not. ONE unioned plan for all candidates (a
    // candidate tag rides every row), not a job per candidate: the
    // contended-hour bench showed sequential small jobs absorb
    // scheduler stalls multiplicatively, and the union shapes are
    // identical so Spark runs the whole profile as one job set
    "schema_fk_discovery" -> ((s, dir) => {
      // NULL keys are excluded like SQL count(DISTINCT): a null child
      // value is not a reference. Keys cast to long to unify the union
      // schema (all TPC-H keys are integral).
      val children = fkCandidates.map { case (ct, cc, pt, pc) =>
        t(s, dir, ct).select(lit(s"$ct.$cc->$pt.$pc").as("candidate"),
          col(cc).cast("long").as("k")).filter(col("k").isNotNull)
      }.reduce(_ unionByName _).distinct()
      val parents = fkCandidates.map { case (ct, cc, pt, pc) =>
        t(s, dir, pt).select(lit(s"$ct.$cc->$pt.$pc").as("candidate"),
          col(pc).cast("long").as("k"))
      }.reduce(_ unionByName _)
      // per-candidate parent profile: total rows (nulls included) and
      // distinct non-null keys — 8 groups, one aggregation
      val parentStats = parents.groupBy(col("candidate"))
        .agg(count(lit(1)).as("parent_rows"),
          count_distinct(col("k")).as("n_parent_distinct"))
      val parentDistinct = parents.filter(col("k").isNotNull).distinct()
      val childStats = children
        .join(parentDistinct.withColumn("_hit", lit(1)),
          Seq("candidate", "k"), "left")
        .groupBy(col("candidate"))
        .agg(count(lit(1)).as("n_child_distinct"),
          count(col("_hit")).as("n_matched"))
      // candidate scaffold: an empty (or all-NULL-key) leg must still
      // report a zero-count row — the oracle's scalar-subquery legs
      // always emit one row per candidate, and a profiler that silently
      // drops a candidate reads as "not checked", not "empty"
      import s.implicits._
      val scaffold = fkCandidates
        .map { case (ct, cc, pt, pc) => s"$ct.$cc->$pt.$pc" }
        .toDF("candidate")
      scaffold
        .join(broadcast(childStats), Seq("candidate"), "left")
        .join(broadcast(parentStats), Seq("candidate"), "left")
        .select(col("candidate"),
          coalesce(col("n_child_distinct"), lit(0L)).as("n_child_distinct"),
          coalesce(col("n_parent_distinct"), lit(0L)).as("n_parent_distinct"),
          coalesce(col("parent_rows"), lit(0L)).as("parent_rows"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"))
        .select(col("candidate"),
          col("n_child_distinct"), col("n_parent_distinct"),
          col("parent_rows"), col("n_matched"),
          Sampling.intDivExact(col("n_matched") * lit(1000000L),
            greatest(col("n_child_distinct"), lit(1L)))
            .as("inclusion_ppm"),
          when(col("n_matched") === col("n_child_distinct") &&
            col("n_parent_distinct") === col("parent_rows"), 1L)
            .otherwise(0L).as("looks_fk"))
    }),

    // generic column profiler (the first thing a warehouse runs on an
    // unknown table): per column — rows, nulls, exact distinct, and
    // integral min/max (money µ-floored, dates as epoch days; string
    // columns carry NULL bounds rather than engine-formatted text).
    // ONE scan: all five distincts ride one multi-distinct aggregate
    // (Spark's Expand plan — 5× the scan rows map-side, the standard
    // trade for single-pass profiling), then a stack() unpivot of the
    // 1-row result
    "schema_column_profile" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("c1"),
        col("o_custkey").cast("long").as("c2"),
        floor(col("o_totalprice") * lit(1000000d)).cast("long").as("c3"),
        Sampling.intDivExact(
          unix_micros(col("o_orderdate").cast("timestamp")), lit(dayUs))
          .as("c4"),
        col("o_orderstatus").as("c5"))
      val a = o.agg(
        count(lit(1)).as("n"),
        count(col("c1")).as("nn1"), count_distinct(col("c1")).as("nd1"),
        min(col("c1")).as("mi1"), max(col("c1")).as("ma1"),
        count(col("c2")).as("nn2"), count_distinct(col("c2")).as("nd2"),
        min(col("c2")).as("mi2"), max(col("c2")).as("ma2"),
        count(col("c3")).as("nn3"), count_distinct(col("c3")).as("nd3"),
        min(col("c3")).as("mi3"), max(col("c3")).as("ma3"),
        count(col("c4")).as("nn4"), count_distinct(col("c4")).as("nd4"),
        min(col("c4")).as("mi4"), max(col("c4")).as("ma4"),
        count(col("c5")).as("nn5"), count_distinct(col("c5")).as("nd5"))
      a.selectExpr(
        "stack(5, " +
          "'o_orderkey', n, n - nn1, nd1, mi1, ma1, " +
          "'o_custkey', n, n - nn2, nd2, mi2, ma2, " +
          "'o_totalprice_us', n, n - nn3, nd3, mi3, ma3, " +
          "'o_orderdate_day', n, n - nn4, nd4, mi4, ma4, " +
          "'o_orderstatus', n, n - nn5, nd5, CAST(NULL AS BIGINT), " +
          "CAST(NULL AS BIGINT)) " +
          "AS (col_name, n_rows, n_null, n_distinct, min_v, max_v)")
    }),

    // repeat-purchase profile: per customer exact order count + mean
    // inter-order gap in µ-days (span // (n−1)), rolled up by order-count
    // bucket — the TPC-H-side loyalty/cadence analysis
    "orders_repeat_rate" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        Sampling.intDivExact(
          unix_micros(col("o_orderdate").cast("timestamp")), lit(dayUs))
          .as("d"))
      val per = o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (max(col("d")) - min(col("d"))).as("_span"))
        .select(col("n_orders"),
          when(col("n_orders") > 1,
            Sampling.intDivExact(col("_span") * lit(1000000L),
              col("n_orders") - 1)).otherwise(lit(0L)).as("gap_us"))
      per.groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_customers"),
          Sampling.intDivExact(sum(col("gap_us").cast(DecimalType(38, 0))),
            count(lit(1))).as("mean_gap_days_us"),
          min(col("gap_us")).as("min_gap_days_us"),
          max(col("gap_us")).as("max_gap_days_us"))
    }),

    // ---- W3/W4: union-by-name + distinct with null-fill ------------------
    "w3_union_distinct" -> ((s, dir) =>
      GraphOps.unionLeaves(Seq(
        t(s, dir, "customer").select(col("c_custkey").as("entity_id"),
          col("c_name").as("name"), col("c_nationkey").as("nationkey"),
          col("c_mktsegment").as("segment")),
        t(s, dir, "supplier").select(col("s_suppkey").as("entity_id"),
          col("s_name").as("name"), col("s_nationkey").as("nationkey"))))),

    // W5 beyond-parity: INTERSECT / EXCEPT set semantics — customers with
    // urgent orders vs BUILDING-segment membership, tagged in one frame
    "w5_set_ops" -> ((s, dir) => {
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("k"))
      building.intersect(urgent).withColumn("tag", lit("both"))
        .union(building.except(urgent).withColumn("tag", lit("building_only")))
        .select(col("tag"), col("k"))
    }),

    // Z-order layout (beyond-parity): one Morton curve over two scan
    // columns, bucketed by curve prefix — the per-bucket span report shows
    // BOTH columns' min/max tighten, i.e. both predicates prune after a
    // single repartitionByRange(z) write (SCALE.md)
    // skew-proof layout: quartile-rank each column FIRST, interleave the
    // 2-bit ranks — every z cell holds between-quantile mass, so files
    // balance regardless of value skew (the documented 100 TB z-order
    // prep). Quartiles via the sort-free lock-step bisection
    // (Profile.exactQuantileValues) — no percentile aggregate in the plan
    "layout_rank_zorder" -> ((s, dir) =>
      Layout.rankZorderSpans(t(s, dir, "lineitem"), "l_extendedprice",
        "l_quantity")),

    "layout_zorder" -> ((s, dir) =>
      Layout.zBucketSpans(t(s, dir, "lineitem"), "l_partkey", "l_suppkey",
        bits = zorderBits, prefixBits = zorderPrefix)),

    // Hilbert-curve layout twin of layout_zorder: same bucket-span report,
    // tighter (≈ square) per-file regions because every curve step is
    // 4-adjacent; the curve is a DFA fold (aggregate HOF), not an
    // unrolled coordinate rewrite
    "layout_hilbert" -> ((s, dir) =>
      Layout.hilbertBucketSpans(t(s, dir, "lineitem"), "l_partkey",
        "l_suppkey", bits = hilbertBits, prefixBits = hilbertPrefix)),

    // zone-map pruning report — WHY you sort/z-order before writing: the
    // same orders under (a) natural key-range files and (b) date-sorted
    // files (boundaries = exact bisect quantile cuts, driver literals, no
    // global sort window), per-file min/max zone maps, and the fraction
    // of files a half-year predicate can skip in each layout
    "layout_zonemap_prune" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(Sampling.intDivExact(
            unix_micros(col("o_orderdate").cast("timestamp")), lit(dayUs))
          .as("k_d"), col("o_orderkey"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mm = o.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val (minK, maxK) = (mm.getLong(0), mm.getLong(1))
      val span = (maxK - minK) / zoneFiles + 1
      val cutQs = (1 until zoneFiles).map(i => 1000000L * i / zoneFiles)
      val cuts = Profile.exactQuantileValues(o, Seq("k_d"), cutQs)
      val sortedFile = cutQs.map(q =>
        when(col("k_d") > cuts(("k_d", q)), 1L).otherwise(0L))
        .reduce(_ + _)
      def report(fileId: Column, tag: String): DataFrame = {
        val zones = o.groupBy(fileId.as("f"))
          .agg(min(col("k_d")).as("mn"), max(col("k_d")).as("mx"),
            count(lit(1)).as("nr"))
          .withColumn("cand",
            col("mx") >= zoneLoD && col("mn") < zoneHiD)
        zones.agg(count(lit(1)).as("n_files"),
          sum(when(col("cand"), 1L).otherwise(0L)).as("n_candidate_files"),
          sum(when(col("cand"), col("nr")).otherwise(0L)).as("rows_scanned"),
          sum(col("nr")).as("rows_total"))
          .select(lit(tag).as("layout"), col("n_files"),
            col("n_candidate_files"), col("rows_scanned"), col("rows_total"),
            Sampling.intDivExact(
              (col("n_files") - col("n_candidate_files")) * lit(1000000L),
              col("n_files")).as("prune_ppm"))
      }
      val out = report(Sampling.intDivExact(col("o_orderkey") - minK,
          lit(span)), "natural")
        .unionByName(report(sortedFile, "sorted"))
        .transform(Frames.truncate)
      o.unpersist(false)
      out
    }),

    // k-anonymity + l-diversity report over released corpus metadata: do
    // (source, length-bucket) groups stay ≥5-strong, and does each still
    // hide the language attribute behind ≥2 values?
    "corpus_kanon" -> ((s, dir) =>
      Privacy.kAnonymityReport(
        t(s, dir, "documents")
          .withColumn("len_bucket", shiftright(col("n_chars"), kanonShift)),
        Seq("source", "len_bucket"), "lang", k = kanonK, l = kanonL)),

    // χ² feature selection of tokens vs the language label — pure
    // integer contingency arithmetic (no logs), absent-class cells
    // included; vocab×classes grid, corpus scanned once, top-k merge
    "corpus_feature_select" -> ((s, dir) =>
      Vocab.chi2TopK(t(s, dir, "documents"), "doc_id", "text", "lang",
        topK = chi2TopK)),

    // embedding-batch health profile: per-dimension integer-µ moments
    // (dead/collapsed dims, scale explosions) — one posexplode into one
    // 64-group hash aggregate, partials collapse every task to ≤dims rows
    "embedding_stats" -> ((s, dir) =>
      Embeddings.dimStats(t(s, dir, "embeddings"), "embedding")),

    // top principal component by bounded power iteration in integer
    // fixed-point: scatter matrix from micro-unit deviations, 3 unrolled
    // matvec+renormalize rounds — the engine-exact "is this batch
    // collapsing onto one axis" probe
    "embedding_pca" -> ((s, dir) =>
      Embeddings.topComponentPpm(t(s, dir, "embeddings"), "vec_id",
        "embedding", rounds = pcaRounds).orderBy(col("dim"))),

    // fully-distributed bounded-round Lloyd k-means, every pass exact
    // integer — the trainer itself (not just its loss) is differentially
    // tested; seeds = k lowest ids (the anchor rule)
    "embedding_kmeans" -> ((s, dir) =>
      Embeddings.kmeansExact(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = kmeansK, rounds = kmeansRounds)),

    // data-wall forecast: epochs of each stratum available at the target
    // mixture before the sampler must repeat data
    "corpus_epochs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      Sampling.epochsReport(docs, col("lang"), col("n_tok"),
        budgetTokens = epochsBudgetTokens,
        sharePctByStratum = epochsShares.toMap,
        defaultSharePct = epochsDefaultShare)
    }),

    // inter-class separability: exact µ² distances between per-label
    // floor-mean centroids — the "are these classes even separable" check
    "embedding_class_sep" -> ((s, dir) =>
      Embeddings.classSeparation(t(s, dir, "embeddings"), "embedding",
        "label")),

    // embedding-batch outlier screen: top-k farthest from the corpus
    // centroid, exact integer µ² distances (floor-mean per dim broadcast
    // back over one posexplode) — the "inspect these before training" list
    "embedding_outliers" -> ((s, dir) =>
      Embeddings.centroidOutliers(t(s, dir, "embeddings"), "vec_id",
        "embedding", topK = outlierTopK)),

    // declarative data-quality constraint suite (the Deequ shape): six
    // named checks verified in ONE scan / one hash aggregate, fanned out
    // to a row per check AFTER aggregation; integer floor-ppm throughout.
    // Thresholds chosen so the report exercises both verdicts (the range
    // and language-set checks fail on this corpus by design).
    "corpus_checks" -> ((s, dir) =>
      Checks.run(t(s, dir, "documents"), Seq(
        Checks.Completeness("text", 1000000L),
        Checks.Completeness("lang", 1000000L),
        Checks.Uniqueness("doc_id", 1000000L),
        Checks.InRange("n_chars", checksRangeLo, checksRangeHi,
          checksRangeThresh),
        Checks.MatchesRegex("source", checksSourceRe, 1000000L),
        Checks.InSet("lang", checksLangSet, checksLangThresh)))),

    // hybrid retrieval: BM25 lexical ranking ∪ exact-cosine vector ranking
    // over the same ids, fused by integer-exact Reciprocal Rank Fusion
    "text_rrf_fusion" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((0L, "spark join"), (1L, "table scan fast"),
        (2L, "window batch agg")).toDF("qid", "qtext")
      val lex = Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
        qs, "qid", "qtext", k = 10)
      val emb = t(s, dir, "embeddings")
      val vec = Similarity.bruteForceTopK(
          emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
          "nid", "nv",
          emb.filter(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10)
        .withColumnRenamed("neighbor_id", "doc_id")
      Fusion.rrf(Seq(lex, vec), "query_id", "doc_id", "rank", k = 10)
    }),

    // salted skew join: the build side replicates per salt, the probe's
    // hub keys spread over 8 reducers; semantics are EXACTLY the plain
    // inner join (missing dim type drops), which the oracle checks
    "j7_salted_join" -> ((s, dir) => {
      import s.implicits._
      val dim = saltedDimLits.toDF("event_type", "weight")
      Skew.saltedJoin(
          events(s, dir).select(col("event_type"), col("event_id"),
            col("user_id")),
          dim, "event_type", col("event_id"), salts = saltedJoinSalts)
        .groupBy(col("event_type"), col("weight"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"))
    }),

    // key-skew profile: the pre-shuffle diagnostic — exact per-key counts,
    // integer-ppm row share, skew factor vs the mean key, suggested salt
    // fan-out for Skew.saltedAgg; top-k via TakeOrderedAndProject
    "skew_report" -> ((s, dir) =>
      Skew.skewReport(events(s, dir), col("event_type"), topK = skewTopK,
        maxSalts = skewMaxSalts)),

    // ---- SQL surface (spark.sql), filter pushdown to the scan -----------
    "q1_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(PricingSql)
    }),

    // TPC-H Q5 shape — the classic snowflake probe: lineitem fact against
    // five dims, region filter pruning through nation; every dim side is
    // broadcast-sized, the only data shuffle is the final n_name agg
    "q5_local_volume" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(LocalVolumeSql)
    }),

    // TPC-H Q7 shape — cross-nation shipping volume by year: the
    // disjunctive nation-pair predicate + two aliased joins against the
    // same dim (both broadcast)
    "q7_nation_volume" -> ((s, dir) => {
      Seq("supplier", "lineitem", "orders", "customer", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(NationVolumeSql)
    }),

    // TPC-H Q10 shape — returned-item revenue per customer, top-20 with a
    // total tie-break order (TakeOrdered, no global sort)
    "q10_returned" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(ReturnedItemsSql)
    }),

    // TPC-H Q14 shape — promo revenue split: fact⋈part with conditional
    // aggregation (the ratio is left in exact µ sums — cross-engine
    // integer division spellings differ)
    "q14_promo" -> ((s, dir) => {
      Seq("lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(PromoRevenueSql)
    }),

    // TPC-H Q19 shape — the disjunction-of-conjunctions predicate probe:
    // three (brand, size, quantity-band) clauses OR'd across the
    // fact⋈part join; the join-independent parts must still push to the
    // scans while the cross-table disjunction evaluates post-join
    "q19_discounted" -> ((s, dir) => {
      Seq("lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(DiscountedRevenueSql)
    }),

    // TPC-H Q18 shape — large-order skim: the HAVING subquery becomes a
    // semi-join on the aggregated quantity before the 3-way join
    "q18_large_orders" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(LargeOrdersSql)
    }),

    // TPC-H Q6 shape — the canonical pushdown probe: every predicate
    // reaches the parquet scan (date range, discount band, quantity cap),
    // then one scalar aggregate; revenue floors per-row to µ BEFORE the
    // order-free decimal sum (the q3 discipline)
    "q6_forecast_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(ForecastRevenueSql)
    }),

    // TPC-H Q13 shape — outer-join count distribution (filter in ON)
    "q13_order_dist" -> ((s, dir) => {
      Seq("customer", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(OrderDistSql)
    }),

    // TPC-H Q17 shape — correlated per-part average decorrelation
    "q17_small_qty" -> ((s, dir) => {
      Seq("lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(SmallQtySql)
    }),

    // TPC-H Q21 shape — self semi-join + self anti-join on the fact
    "q21_sole_return" -> ((s, dir) => {
      Seq("supplier", "lineitem", "orders", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(SoleReturnSql)
    }),

    // TPC-H Q22 shape — scalar-avg gate + anti-join on restricted orders
    "q22_dormant_customers" -> ((s, dir) => {
      Seq("customer", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(DormantCustomersSql)
    }),

    // TPC-H Q2 shape — correlated min over the shared derived table
    "q2_min_cost_supplier" -> ((s, dir) => {
      Seq("lineitem", "part", "supplier")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(MinCostSupplierSql)
    }),

    // TPC-H Q20 shape — nested semi-join chain with a HAVING gate
    "q20_excess_stock" -> ((s, dir) => {
      Seq("supplier", "nation", "lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(ExcessStockSql)
    }),

    // TPC-H Q11 shape — groups gated by a global aggregate of themselves
    "q11_important_parts" -> ((s, dir) => {
      Seq("lineitem", "supplier")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(ImportantPartsSql)
    }),

    // TPC-H Q15 shape — equality with the max over the aggregated view
    "q15_top_supplier" -> ((s, dir) => {
      Seq("lineitem", "supplier")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(TopSupplierSql)
    }),

    // TPC-H Q16 shape — NOT IN ⇒ null-aware anti join + count distinct
    "q16_supplier_count" -> ((s, dir) => {
      Seq("lineitem", "supplier", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(SupplierCountSql)
    }),

    // TPC-H Q8 shape — conditional market share inside the snowflake
    "q8_market_share" -> ((s, dir) => {
      Seq("lineitem", "orders", "customer", "supplier", "nation", "region")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(MarketShareSql)
    }),

    // TPC-H Q9 shape — 5-way join, derived profit, nation×year rollup
    "q9_product_profit" -> ((s, dir) => {
      Seq("lineitem", "orders", "part", "supplier", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(ProfitSql)
    }),

    // TPC-H Q12 shape — two-way conditional counts on a lateness window
    "q12_late_lines" -> ((s, dir) => {
      Seq("orders", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(LateLinesSql)
    }),

    // ---- training-data ops: dedup ---------------------------------------
    "dedup_exact" -> ((s, dir) => driverSafe(
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text"))),

    // the one-row business case for dedup: redundant docs/chars if only
    // the min-id member of each exact group is kept
    "dedup_savings" -> ((s, dir) =>
      Dedup.exactDupSavings(t(s, dir, "documents"), "doc_id", "text",
        "n_chars")),

    // exact-group size histogram in log2 buckets — mega-template vs
    // many-small-copies shape report
    "dedup_group_hist" -> ((s, dir) =>
      Dedup.groupSizeHistogram(t(s, dir, "documents"), "text")),

    // case/punctuation-insensitive dedup groups + how many DISTINCT exact
    // fingerprints each normalized group collapsed (what normalization
    // bought over dedup_exact) — same one-shuffle shape
    "dedup_normalized" -> ((s, dir) => driverSafe(
      Dedup.normalizedGroups(t(s, dir, "documents"), "doc_id", "text"))),

    "dedup_jaccard" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500)
    }),

    // EXACT similarity join by prefix filtering (SSJoin/PPJoin): candidates
    // only from each doc's rarest n−⌈t·n⌉+1 shingles — LOSSLESS by theorem,
    // so the oracle brute-forces ALL pairs with NO posting cap and
    // hash-equality certifies the filter dropped nothing (the no-recall-
    // knob alternative to dedup_jaccard's capped inverted index)
    "dedup_jaccard_exactjoin" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Dedup.prefixFilterJaccardPairs(docs, "doc_id", "sh", 0.5)
    }),

    // near-dup incidence per source: share of each source's docs with at
    // least one verified near-dup — the "which crawl to dedup first" rank
    "dedup_rate_by_source" -> ((s, dir) => {
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
    }),

    // cross-source duplication provenance: near-dup pairs lifted to an
    // unordered source×source matrix (which mirrors copy from which) —
    // the audit run before paying for document-level dedup of a crawl
    "dedup_source_matrix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docsShingled(s, dir),
        "doc_id", "sh", 0.5, maxPosting = 500)
      Dedup.crossSourceMatrix(pairs, "id_a", "id_b", d, "doc_id", "source")
    }),

    // asymmetric containment over the same inverted index: the snippet /
    // quote-farm detector (a short doc inside a long one has tiny jaccard
    // but containment 1.0); directed rows, integer floor-ppm score
    "dedup_containment" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Dedup.containmentPairs(docs, "doc_id", "sh", containThreshPpm,
        maxPosting = 500)
    }),

    // EXACT containment join via one-sided prefix filtering: src's rarest
    // n−⌈t·n⌉+1 shingles must hit dst's FULL set — lossless by theorem,
    // capless brute-force oracle certifies it (the audit-grade companion
    // of dedup_containment's capped screen; directions emerge from each
    // side's own prefix)
    "dedup_containment_exactjoin" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Dedup.prefixFilterContainmentPairs(docs, "doc_id", "sh",
        containThreshPpm)
    }),

    // token-weighted near-dup: tf-idf cosine over the df-capped vocabulary
    // — rare tokens dominate (catches boilerplate + unique payload), idf
    // in integer micro-units so every sum is order-independent
    "dedup_tfidf_cosine" -> ((s, dir) => {
      val docs = tFan(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      Dedup.tfidfCosinePairs(docs, "doc_id", "toks",
        threshold = 0.8, maxPosting = 500)
    }),

    // cross-document repeated spans (Lee et al. 2022): per doc, how many
    // of its distinct 5-token windows appear in another document. Oracle
    // mode = Md5Hasher (same cross-engine trick as dedup_minhash_lsh);
    // prod default is xxhash64
    "dedup_substring" -> ((s, dir) =>
      Dedup.substringDupReport(t(s, dir, "documents"), "doc_id", "text", // fan A/B: 0.58x fanned
        n = 5, hasher = Dedup.Md5Hasher)),

    // paragraph-level near-dup, the middle granularity: blank-line blocks
    // (over-long segments split into fixed 40-token blocks), md5
    // fingerprints, per-doc cross-document duplicated-paragraph share —
    // the boilerplate-paragraph killer; linear group-bys, no pair join
    "dedup_paragraph" -> ((s, dir) =>
      Dedup.paragraphDupReport(tFan(s, dir, "documents"), "doc_id", "text")),

    // its provenance twin: every shared paragraph's spread and id bracket
    "dedup_paragraph_prov" -> ((s, dir) =>
      Dedup.paragraphProvenance(t(s, dir, "documents"), "doc_id", "text")),

    // the span-level FIX: remove cross-document repeated 5-token spans,
    // keep the unique remainder (vs dropping whole docs)
    "corpus_strip_spans" -> ((s, dir) =>
      Dedup.stripSharedSpans(tFan(s, dir, "documents"), "doc_id", "text",
        n = 5, hasher = Dedup.Md5Hasher)),

    // EXACT substring dedup (Lee et al. 2022 ExactSubstr semantics), the
    // audit-grade companion to dedup_substring: maximal covered runs with
    // exact token extents, from fixed-depth suffix-prefix buckets keyed
    // by FULL md5 (no 60-bit screen); corpus-wide occurrence counts, so
    // intra-doc verbatim repeats count as duplication
    "dedup_substring_exact" -> ((s, dir) =>
      Dedup.exactSubstrRuns(tFan(s, dir, "documents"), "doc_id", "text",
        minLen = 5)),

    // content-defined chunking (rsync/LBFS, Muthitacharoen et al.
    // SOSP'01): variable chunks cut where the rolling 3-token hash ≡ 0
    // mod 16, so boundaries move with the content and near-identical
    // revisions share every untouched chunk. Md5Hasher oracle mode
    "dedup_cdc" -> ((s, dir) =>
      Dedup.cdcDupReport(tFan(s, dir, "documents"), "doc_id", "text",
        window = 3, divisor = 16, hasher = Dedup.Md5Hasher)),

    // the canonical training-data cleaning pipeline, composed from the ops
    // above: quality gate → language gate → exact dedup → kept corpus
    // the cleaning-pipeline FUNNEL: cumulative survivors at each gate
    // (total → nonempty → length → quality → language → exact-canonical)
    // — the one dashboard a corpus refresh is judged by; stages 1-5 ride
    // ONE conditional-count aggregate, stage 6 adds the dedup group min
    "corpus_funnel_report" -> ((s, dir) => {
      val feats = TextFunctions.qualityFeatures(col("text")).toMap
      val base = tFan(s, dir, "documents")
        .select(col("doc_id"),
          feats("n_tokens").as("nt"), feats("alpha_ratio").as("ar"),
          TextFunctions.langId(col("text")).as("lg"),
          TextFunctions.contentFingerprint(col("text")).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = col("nt") >= 5 && col("ar") > 0.5
      val e = q && col("lg") === "en"
      val st = base.agg(
        count(lit(1)).as("s1"),
        count(when(col("nt") >= 1, 1)).as("s2"),
        count(when(col("nt") >= 5, 1)).as("s3"),
        count(when(q, 1)).as("s4"),
        count(when(e, 1)).as("s5"))
      val s6 = base.filter(e).groupBy(col("fp"))
        .agg(min(col("doc_id")).as("_k"))
        .agg(count(lit(1)).as("s6"))
      val names = Seq("total", "nonempty", "min_length", "quality",
        "english", "exact_canonical")
      val rows = (1 to 6).map { i =>
        struct(lit(i.toLong).as("stage"), lit(names(i - 1)).as("stage_name"),
          col(s"s$i").as("n_docs"))
      }
      graft.functions.Frames.sealRelease(
        st.crossJoin(s6)
          .select(explode(array(rows: _*)).as("_r"))
          .select(col("_r.*")),
        base)
    }),

    "corpus_clean" -> ((s, dir) => {
      val feats = TextFunctions.qualityFeatures(col("text")).toMap
      val scored = tFan(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextFunctions.langId(col("text")).as("lang_guess"),
          feats("n_tokens").as("n_tokens"),
          feats("alpha_ratio").as("alpha_ratio"))
        .filter(col("lang_guess") === "en" && col("n_tokens") >= 5 &&
          col("alpha_ratio") > 0.5)
      Dedup.dropExactDuplicates(scored, "doc_id", "text")
        .select(col("doc_id"), col("lang_guess"), col("n_tokens"))
    }),

    // near-dup FAMILY-size histogram: log2 buckets over connected-
    // component sizes — the shape that picks the dedup strategy (a few
    // mega-families vs many pairs), the CC analogue of dedup_group_hist
    "graph_component_hist" -> ((s, dir) => {
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
    }),

    // vocabulary health: hapax share and type-token ratio in floor-ppm —
    // a crawl whose hapax share collapses is template-flooded; one token
    // aggregate, single-row output
    "vocab_hapax_report" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      counts.agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        count(when(col("c") === 1, 1)).as("n_hapax"))
        .select(col("n_tokens"), col("vocab_size"), col("n_hapax"),
          Sampling.intDivExact(
            col("n_hapax").cast("decimal(38,0)") * lit(1000000L),
            col("vocab_size")).as("hapax_ppm"),
          Sampling.intDivExact(
            col("vocab_size").cast("decimal(38,0)") * lit(1000000L),
            col("n_tokens")).as("ttr_ppm"))
    }),

    // Zipf shape test: integer-log₂ frequency buckets + exact-integer LS
    // slope — natural text sits near slope_ppm ≈ −10⁶
    "vocab_zipf" -> ((s, dir) =>
      Vocab.zipfFit(t(s, dir, "documents"), "text")),

    // max-min-fair token budget: uniform cap L, alloc = min(mass, L) —
    // the "clip the head, never starve the tail" mixture policy
    "corpus_waterfill" -> ((s, dir) =>
      Sampling.waterfillBudget(t(s, dir, "documents"), "source", "text",
        waterfillBudgetTokens).orderBy(col("source"))),

    // incremental exact-dup maintenance: group STATE (md5, keep_id,
    // group_size — array-free, persistable) built per snapshot and
    // merged (min/sum are associative, so append ∪ ≡ rebuild EXACTLY);
    // the output compares the merged state against an independent
    // whole-corpus rebuild row-for-row
    "dedup_groups_delta" -> ((s, dir) => {
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
    }),

    // the TAKEDOWN path of the exact-dup state: state(all) ⊖ deleted
    // (bucket >= 80) must equal a rebuild over the survivors — including
    // the keep_id REPAIR where the canonical min-id member itself was
    // deleted (re-min'd from the survivors, affected groups only). The
    // oracle rebuilds from the remaining docs directly, so hash equality
    // IS the state ⊖ delta ≡ rebuild-without-docs contract
    "dedup_groups_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = Sampling.stableBucket(col("doc_id"))
      Dedup.deleteFromGroupsState(
          Dedup.exactGroupsState(docs, "doc_id", "text"),
          docs.filter(bucket >= 80), "doc_id", "text",
          docs.filter(bucket < 80))
        .orderBy("content_md5")
    }),

    // the takedown path of the NEAR-dup state: deleting 40% of the
    // corpus drops some LSH buckets back UNDER the (tiny, 2-member) cap
    // — the resurfaced pairs are exactly what a rebuild over the
    // survivors would emit that no previous run ever did; the oracle
    // recomputes before/after bucket sizes and the crossing pairs
    "dedup_lsh_delete" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      val banded = Dedup.lshBands(
        Dedup.minhashSignatures(docs, "doc_id", "sh", 64, Dedup.Md5Hasher),
        "doc_id", "sig", bands = 16, rowsPerBand = 4, Dedup.Md5Hasher)
      val deleted = t(s, dir, "documents")
        .filter(Sampling.stableBucket(col("doc_id")) >= 60)
        .select(col("doc_id"))
      Dedup.lshDeleteCandidates(banded, deleted, "doc_id", maxBucket = 2)
        .orderBy("id_a", "id_b")
    }),

    // incremental NEAR-dup candidates — the LSH append path beside the
    // exact-dup state above: the banded-signature frame is the state,
    // hot-bucket caps re-taken on the MERGED index (the one
    // non-compositional step), and only pairs touching the new snapshot
    // are emitted — the old corpus is never re-paired against itself
    "dedup_lsh_delta" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      val bucket = Sampling.stableBucket(col("doc_id"))
      def banded(d: DataFrame) = Dedup.lshBands(
        Dedup.minhashSignatures(d, "doc_id", "sh", 64, Dedup.Md5Hasher),
        "doc_id", "sig", bands = 16, rowsPerBand = 4, Dedup.Md5Hasher)
      Dedup.lshAppendCandidates(
        banded(docs.filter(bucket < 80)),
        banded(docs.filter(bucket >= 80)), "doc_id")
    }),

    // greedy maximum-coverage selection: the 5 docs that together cover
    // the most distinct 3-gram shingles — exact greedy (1-1/e bound),
    // one posting build + 5 anti-join/count/argmax rounds
    "corpus_maxcover_select" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Sampling.maxCoverSelect(docs, "doc_id", "sh", k = 5)
    }),

    // GreeDi two-phase distributed greedy (Mirzasoleiman NeurIPS'13):
    // 4 md5-bucket greedies run SIMULTANEOUSLY (each round = one
    // (bucket,doc) aggregate + one per-bucket argmax for all buckets at
    // once), then the exact greedy over the <= 12 phase-1 winners — the
    // scale answer to maxcover's inherently sequential k full scans
    "corpus_maxcover_greedi" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Sampling.maxCoverSelectGreedi(docs, "doc_id", "sh", k = 3, parts = 4)
    }),

    // CELF lazy-forward greedy (Leskovec KDD'07): output-identical to
    // corpus_maxcover_select — the bounded lazy queue re-probes a
    // handful of stale bounds per pick instead of re-aggregating the
    // corpus; the SHARED oracle text is the exactness proof cross-engine
    "corpus_maxcover_celf" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Sampling.maxCoverSelectCelf(docs, "doc_id", "sh", k = 5)
    }),

    // stochastic-greedy (Mirzasoleiman AAAI'15): per-round salted-md5
    // half-corpus samples — the (1−1/e−ε) relaxation whose rounds cost
    // sample-sized aggregates; sampling is hash-deterministic so the
    // oracle replays it exactly
    "corpus_maxcover_stochastic" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Sampling.maxCoverSelectStochastic(docs, "doc_id", "sh", k = 4,
        samplePct = 50)
    }),

    // k-center coreset over the embedding space (Gonzalez greedy,
    // 2-approx): deterministic seed, then 3 farthest-point rounds — the
    // geometric twin of corpus_maxcover_select; per round one linear
    // scan + a 1-row argmax, distances exact cross-engine (shared fold)
    "embedding_kcenter_select" -> ((s, dir) =>
      Similarity.kCenterSelect(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 4)),

    // batched farthest-point: 2 picks per round against the PRE-round
    // center set, one least()-fold update scan per round — ⌈(k−1)/B⌉
    // jobs instead of k−1 at coreset-realistic k
    "embedding_kcenter_batched" -> ((s, dir) =>
      Similarity.kCenterSelect(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 5, batch = 2)),

    // POPULATION STABILITY INDEX between corpus snapshots — the standard
    // production drift metric: doc-length distributions (log2 buckets,
    // the shared len(bin()) convention) of the old/new md5 snapshots,
    // Laplace-smoothed shares, per-bucket (p−q)·ln(p/q) terms in µ8
    // units (terms are non-negative; per-term flooring makes any
    // downstream total an order-free integer sum). ln rides the
    // cross-engine-libm precedent; shares are single IEEE divisions
    "corpus_psi_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Profile.psiTerms(docs.select(
        length(bin(TextFunctions.tokenCount(col("text")).cast("long")))
          .as("bucket"),
        (Sampling.stableBucket(col("doc_id")) < 80).as("_old")),
        "bucket", "_old")
    }),

    // EMBEDDING-SPACE drift: the same PSI over IVF cell shares — "did the
    // new snapshot move in representation space", the drift check a
    // retrieval/embedding deployment runs on every refresh. Cells are
    // the dedup_semantic anchor assignment (iters=0 ≡ lowest-id seeds, so
    // the oracle recomputes them); snapshots are the md5 80/20 split
    "embedding_psi_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Ivf.train(emb, "vec_id", "embedding", 8, iters = 0,
        metric = "l2")
      val asg = Ivf.cellAssignments(emb, "vec_id", "embedding", cents,
        metric = "l2")
      Profile.psiTerms(asg.select(col("cell"),
        (Sampling.stableBucket(col("vec_id")) < 80).as("_old")),
        "cell", "_old")
    }),

    // the DATA CARD: the per-source release artifact every corpus ships —
    // size, exact-dup rate, Gopher-gate keep rate, dominant language —
    // composed from the already-oracle-proven signals (contentFingerprint
    // groups, qualityRuleScreen, langId) in one plan: four hash
    // aggregates over scans + one small argmax, everything ppm-exact
    "corpus_datacard" -> ((s, dir) => {
      val docs = tFan(s, dir, "documents")
      val base = docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long"))
          .as("n_tokens"))
      val fp = docs.select(col("source"),
        TextFunctions.contentFingerprint(col("text")).as("_f"))
      val gs = fp.groupBy(col("_f")).agg(count(lit(1)).as("_gs"))
      val dup = fp.join(gs, "_f").groupBy(col("source"))
        .agg(count(when(col("_gs") > 1, 1)).as("_dup"))
      val keep = TextFunctions.qualityRuleScreen(docs, "text", "source")
        .select(col("source"), col("n_kept"))
      val lang = docs.select(col("source"),
          TextFunctions.langId(col("text")).as("_lg"))
        .groupBy(col("source"), col("_lg")).agg(count(lit(1)).as("_c"))
        .groupBy(col("source"))
        .agg(min_by(struct(col("_lg"), col("_c")),
          struct((-col("_c")).as("_nc"), col("_lg"))).as("_t"))
        .select(col("source"), col("_t").getField("_lg").as("top_lang"),
          col("_t").getField("_c").as("_lc"))
      base.join(dup, "source").join(keep, "source").join(lang, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          Sampling.intDivExact(col("_dup") * lit(1000000L), col("n_docs"))
            .as("dup_doc_ppm"),
          Sampling.intDivExact(col("n_kept") * lit(1000000L), col("n_docs"))
            .as("gopher_keep_ppm"),
          col("top_lang"),
          Sampling.intDivExact(col("_lc") * lit(1000000L), col("n_docs"))
            .as("top_lang_ppm"))
    }),

    // INCREMENTAL datacard — the capstone of the incremental family
    // (groups delta + HLL delta + CorpusDelta): the release artifact
    // assembled from two per-snapshot mergeable states (md5 80/20 split,
    // the shared convention) must equal the full-scan artifact — which
    // is exactly what its oracle computes. Every state column is a sum
    // of per-doc functions, so merge ≡ rebuild by associativity; dup
    // groups split ACROSS snapshots only surface at merge, the case a
    // naive per-snapshot datacard gets wrong
    "corpus_datacard_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = Sampling.stableBucket(col("doc_id"))
      CorpusDelta.datacardFromState(CorpusDelta.mergeDatacardState(
        CorpusDelta.datacardState(docs.filter(bucket < 80), "text", "source"),
        CorpusDelta.datacardState(docs.filter(bucket >= 80), "text", "source")))
    }),

    // the takedown path of the datacard state: state(all) ⊖
    // state(deleted) assembled into the release artifact must equal the
    // datacard computed on the survivors — every state column is a sum
    // of per-doc functions, so the subtraction is exact and zero-count
    // rows vanish like a rebuild's
    "corpus_datacard_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = Sampling.stableBucket(col("doc_id"))
      CorpusDelta.datacardFromState(CorpusDelta.deleteDatacardState(
        CorpusDelta.datacardState(docs, "text", "source"),
        CorpusDelta.datacardState(docs.filter(bucket >= 80), "text",
          "source")))
    }),

    // the trainer's last-mile artifact: deterministic shard manifest —
    // shard = md5(doc_id) % 16 (stable across runs and engines, no
    // global sort, no driver state), per-shard doc/token totals and the
    // signed ppm deviation of each shard's token share from the ideal
    // 1/S (the balance check before shipping shards to data loaders);
    // totals ride one broadcast 1-row frame, all integer arithmetic
    "corpus_shard_manifest" -> ((s, dir) => {
      val S = 16L
      val perDoc = t(s, dir, "documents")
        .select(pmod(Dedup.Md5Hasher(col("doc_id").cast("string")), lit(S))
          .as("shard"),
          TextFunctions.tokenCount(col("text")).cast("long").as("_tk"))
      val perShard = perDoc.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_tk")).as("n_tokens"))
      val tot = perShard.agg(sum(col("n_tokens")).as("_tot"))
      perShard.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          // numerator in DECIMAL before the multiplies: a 100 TB corpus
          // (~1.5e12 tokens/shard) would wrap n_tokens·16·10⁶ in long
          // arithmetic while the oracle's HUGEINT stays exact
          (Sampling.intDivExact(
            col("n_tokens").cast("decimal(38,0)") * lit(S * 1000000L),
            col("_tot")) - lit(1000000L)).as("dev_ppm"))
    }),

    // release-integrity artifact: per-source Merkle root over the 16
    // md5-mod shards (leaf = doc digest, shard digest = md5 of the
    // sorted leaf digests, then 4 pairing rounds on shard index). A
    // changed shard re-proves with O(log n) path hashes instead of a
    // corpus rescan — the verification twin of corpus_shard_manifest
    "corpus_merkle_root" -> ((s, dir) =>
      Merkle.roots(t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy("source")),

    // the proof op the root exists FOR: per (source, shard) the shard
    // digest + its 4 sibling hashes + verification that folding them
    // reproduces the root — a changed shard re-proves in O(log n) path
    // hashes instead of a corpus rescan (Merkle.proofs; the tamper twin —
    // flip one doc, verification against the published root fails — is
    // pinned in MerkleSpec)
    "corpus_merkle_proof" -> ((s, dir) =>
      Merkle.proofs( // fan A/B: 0.61x fanned
          Merkle.shardLeaves(t(s, dir, "documents"), "doc_id", "text",
            "source"), "source")
        .orderBy("source", "shard")),

    // TAKEDOWN through the release-integrity artifact: delete one whole
    // source (src0) plus 20% of another (src9, bucket >= 80), then
    // verify the survivors' proofs against the ORIGINAL published roots
    // (full-outer: the wholly-deleted source surfaces as an orphaned
    // ok=0 root row instead of vanishing) and against the re-rooted
    // remaining corpus (all ok). Per-source verdict counts; the oracle
    // replays both Merkle chains
    "corpus_merkle_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents") // fan A/B: 0.56x fanned
      val bucket = Sampling.stableBucket(col("doc_id"))
      val oldRoots = Merkle.roots(docs, "doc_id", "text", "source")
        .select(col("source"), col("merkle_root").as("root"))
      val remaining = docs.filter(col("source") =!= "src0" &&
        !(col("source") === "src9" && bucket >= 80))
      val leaves = Merkle.shardLeaves(remaining, "doc_id", "text", "source")
      val oldAgg = Merkle.proofs(leaves, "source",
          rootsOverride = Some(oldRoots))
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"), sum("n_docs").as("n_docs"),
          sum("ok").as("n_ok_old"))
      val newAgg = Merkle.proofs(leaves, "source")
        .groupBy("source").agg(sum("ok").as("n_ok_new"))
      oldAgg.join(newAgg, Seq("source"), "left")
        .select(col("source"), col("n_rows"), col("n_docs"),
          col("n_ok_old"), coalesce(col("n_ok_new"), lit(0L)).as("n_ok_new"))
        .orderBy("source")
    }),

    // full dedup pipeline: verified pairs → connected components (groups)
    "dedup_groups" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Dedup.componentsFromPairs(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        iters = 10)
    }),

    // what dedup actually KEEPS: per near-dup group the member with the
    // most content (ties to smallest id) — argmax as one max(struct),
    // no window over the corpus
    "corpus_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.canonicalPerGroup(docs, "doc_id",
        Dedup.componentsFromPairs(
          Dedup.ngramJaccardPairs(docsShingled(s, dir), "doc_id", "sh",
            0.5, maxPosting = 500),
          iters = 10),
        "n_chars")
    }),

    // tokenizer-fertility report: subword pieces per whitespace word in
    // exact floor-ppm per language — the context-window budgeting metric
    "text_fertility" -> ((s, dir) =>
      TextFunctions.fertilityByGroup(t(s, dir, "documents"), col("lang"),
        col("text"))),

    // split-balance QA: per length bucket, each split's own-total share
    // (floor-ppm) + max pairwise gap — catches split keys that correlate
    // with doc length
    "corpus_split_balance" -> ((s, dir) =>
      Sampling.splitBalance(t(s, dir, "documents"), col("doc_id"),
        col("n_chars"))),

    // Pareto concentration: the top decile of customers (by exact integer
    // order value) and their revenue share — the p90 cut is an exact
    // type-1 quantile from the sort-free lock-step bisection
    // (Profile.exactQuantileValues) folded in as a LITERAL, so the plan
    // carries no percentile aggregate (no single-buffer sort) — the
    // rfm/rank_zorder precedent
    "orders_pareto" -> ((s, dir) => {
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * lit(1000000d))
          .cast("decimal(38,0)")).as("_v"))
        .select(col("o_custkey"), col("_v"), col("_v").cast("long").as("_vl"))
      val thr = Profile.exactQuantileValues(perCust, Seq("_vl"),
        Seq(900000L))(("_vl", 900000L))
      perCust.agg(
        count(lit(1)).as("n_customers"),
        count(when(col("_vl") >= lit(thr), 1)).as("n_top"),
        min(lit(thr)).as("threshold_us"),
        Sampling.intDivExact(
          sum(when(col("_vl") >= lit(thr), col("_v"))
            .otherwise(lit(0).cast("decimal(38,0)"))) * lit(1000000L),
          sum(col("_v"))).as("top_share_ppm"))
    }),

    // leakage-safe split: assignment by DEDUP GROUP, not by doc — a test
    // doc whose near-twin sits in train is contamination a per-doc split
    // cannot see; singletons hash by their own id
    "corpus_leak_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val comps = Dedup.componentsFromPairs(
        Dedup.ngramJaccardPairs(docsShingled(s, dir), "doc_id", "sh", 0.5,
          maxPosting = 500),
        iters = 10)
      Sampling.groupSplit(docs, col("doc_id"), comps)
    }),

    // oracle-mode hasher (Md5Hasher): DuckDB has no xxhash64, so the
    // driver query computes the SAME kernels from md5-prefix longs the
    // oracle recomputes exactly; production keeps the xxhash64 default
    // (identical plans — DedupSimilaritySpec pins both hashers)
    "dedup_minhash_lsh" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "sh", 64,
        Dedup.Md5Hasher)
      Dedup.lshCandidates(
        Dedup.lshBands(sigs, "doc_id", "sig", bands = 16, rowsPerBand = 4,
          Dedup.Md5Hasher),
        "doc_id")
    }),

    // per-node triangle counts on the near-dup candidate graph
    // (degree-ordered orientation — no last-reducer wedge explosion):
    // dense-family vs transitive-bridge structure before CC collapses it
    "graph_triangles" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Triangles.perNode(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b")
    }),

    // analytic LSH S-curves for the banding grid — picks (bands, rows)
    // BEFORE data runs; dedup_eval_report is the empirical after-check
    "dedup_lsh_curve" -> ((s, dir) =>
      Dedup.lshTuningCurve(s, lshCurveConfigs, lshCurveSteps)),

    // Efraimidis–Spirakis weighted sample without replacement: stable-hash
    // u, key = ln(u)/w, top-k — the sample itself is oracle-checkable
    "corpus_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
        col("n_chars"), k = 50)),

    // RFM segmentation: threshold quintiles are exact type-1 quantiles
    // from the sort-free lock-step bisection over the integer metrics —
    // no percentile aggregate, no global ntile window; ties share buckets
    "events_rfm" -> ((s, dir) =>
      EventAnalytics.rfmSegments(events(s, dir), "user_id",
        unix_micros(col("ts")), col("value"),
        col("event_type") === "purchase")),

    // RAKE keyphrases: stopword-segmented phrase runs, deg/freq word
    // scores, decimal-summed phrase scores, corpus top-20
    "text_keyphrases" -> ((s, dir) =>
      Rake.topPhrases(tFan(s, dir, "documents"), "doc_id", "text",
        topK = 20)),

    // first-order Markov transition matrix over user journeys: one lag
    // window + a |types|²-bounded agg, probabilities in exact ppm
    "events_transitions" -> ((s, dir) =>
      EventAnalytics.transitionMatrix(events(s, dir), "user_id",
        "event_id", "event_type", unix_micros(col("ts")))),

    // level-2 A-Priori basket mining over order line items: top pairs by
    // support with DECIMAL-exact ppm lift (the wide-integer rule — see
    // Basket's scaladoc)
    "orders_basket_pairs" -> ((s, dir) =>
      Basket.pairStats(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 2, topK = 100)),

    // level-3 A-Priori: item triples with cohesion vs the weakest pair —
    // nested posexplode emission, basket cap bounds the m³ blowup
    "orders_basket_triples" -> ((s, dir) =>
      Basket.tripleStats(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = tripleMinSupport, topK = tripleTopK)),

    // deterministic A/B readout: stable-bucket arm assignment (no stored
    // assignment table), per-arm exact-ppm conversion
    "events_ab_metrics" -> ((s, dir) =>
      EventAnalytics.abMetrics(events(s, dir), "user_id",
        col("event_type") === "purchase", arms = 2)),

    // CUPED variance reduction (Deng et al. 2013): view spend as the
    // surrogate covariate for purchase spend — exact decimal sums, one
    // fixed IEEE expression tree for θ/means, broadcast pooled stats
    "events_ab_cuped" -> ((s, dir) =>
      EventAnalytics.cupedAbMetrics(events(s, dir), "user_id",
        col("event_type") === "view", col("event_type") === "purchase",
        col("value"), arms = 2)),

    // top session journeys: 30-min-gap sessionization → first-5-step
    // path strings → session counts → TakeOrderedAndProject top-20;
    // both windows ride one user-keyed shuffle, total (ts, id) order
    "events_paths" -> ((s, dir) =>
      EventAnalytics.topPaths(events(s, dir), "user_id",
        unix_micros(col("ts")), "event_id", "event_type",
        gapUs = pathGapUs, maxLen = pathMaxLen, topK = pathTopK)),

    // recency-weighted engagement: weight·2^-(age in half-lives) per
    // event as an integer right-shift — exact, order-free, no libm pow;
    // reference instant = the snapshot's own high-water mark (idempotent)
    "events_decay" -> ((s, dir) =>
      EventAnalytics.decayScores(events(s, dir), "user_id",
        unix_micros(col("ts")), "event_type", decayWeights,
        decayHalfLifeUs)),

    // bounded synchronous LPA communities over the same graph: density-
    // aware complement to connected components (a borderline chain
    // bridging two dense duplicate families splits instead of merging);
    // deterministic by synchronous rounds + total argmax tie-break
    "graph_communities" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Lpa.communities(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b", rounds = lpaRounds)
    }),

    // similarity-threshold sweep over ONE capped pair frame (computed at
    // the loosest threshold, persisted): per candidate threshold, the
    // surviving pair count and distinct affected docs — the dial-setting
    // table read before committing a dedup threshold
    "dedup_threshold_sweep" -> ((s, dir) => {
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
    }),

    // modularity Q of the LPA partition (Newman & Girvan 2004) in exact
    // integer arithmetic: per community, Q-contribution = (4·m·e_c −
    // d_c²)/(4m²) in signed floor-ppm over DECIMAL — "did the community
    // pass find real structure". Edge/degree tallies are two label joins;
    // m rides as a 1-row broadcast
    "graph_modularity" -> ((s, dir) => {
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
    }),

    // bounded 3-round 2-core peel of the same graph: the density filter
    // separating a genuine duplicate core from its borderline halo
    "graph_kcore" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Triangles.kCorePeel(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b", k = 2, rounds = 3)
    }),

    // bounded 2-round 3-truss peel of the same graph: the EDGE-grain
    // density filter one notch stricter than kcore — strips exactly the
    // triangle-free bridge edges whose transitive chains merge unrelated
    // template families (kcore keeps a long chain; a truss never does)
    "graph_ktruss" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Triangles.kTrussPeel(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b", k = 3, rounds = 2)
    }),

    // language-ID confusion matrix vs the stored labels — the evaluation
    // every heuristic gate needs before it filters anything
    "corpus_lang_confusion" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang").as("true_lang"),
          TextFunctions.langId(col("text")).as("pred_lang"))
        .groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))),

    // local bridges of the near-dup graph: edges with NO common neighbor
    // — the chain links that merge unrelated families under transitive
    // closure (the per-edge audit list next to kcore/triangles)
    "graph_bridges" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Graphs.localBridges(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b")
    }),

    // takedown blast radius: every doc within <=3 near-dup hops of the
    // flagged seed set (bounded BFS, rounds declared so the oracle can
    // unroll them) — the transitive-contamination audit
    "graph_bfs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docsShingled(s, dir),
        "doc_id", "sh", 0.5, maxPosting = 500)
      Graphs.bfsDistances(pairs, "id_a", "id_b",
        docs.filter(pmod(col("doc_id"), lit(bfsSeedMod)) === 0)
          .select(col("doc_id")),
        "doc_id", rounds = bfsRounds)
    }),

    // connectivity profile of the candidate graph: log2-bucketed degree
    // histogram (bucket = length of the binary string — no libm log);
    // a heavy tail = a few boilerplate hubs dominate candidate volume
    "graph_degree_hist" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      Graphs.degreeHistogram(
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500),
        "id_a", "id_b")
    }),

    // linear multi-touch attribution: per-conversion credit splits in
    // exact integer ppm over the bounded interval join; remainder to the
    // last touch so every conversion sums to exactly 10^6
    "events_multitouch" -> ((s, dir) => {
      val ev = events(s, dir)
      EventAnalytics.linearAttribution(
        ev.filter(col("event_type") === "click")
          .select(col("event_id").as("touch_id"), col("user_id"),
            unix_micros(col("ts")).as("touch_us")),
        "touch_id",
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("conv_id"), col("user_id"),
            unix_micros(col("ts")).as("conv_us")),
        "conv_id", "user_id", "touch_us", "conv_us",
        windowUs = attribWindowUs)
    }),

    // the dedup tuning loop: precision/recall (integer ppm) of the banded
    // MinHash candidates vs exact 3-shingle Jaccard ≥ 0.5 ground truth —
    // same role recallAtK plays for the ANN knobs, itself oracle-checked
    "dedup_eval_report" -> ((s, dir) => {
      val docs = docsShingled(s, dir)
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "sh", 64,
        Dedup.Md5Hasher)
      val cands = Dedup.lshCandidates(
        Dedup.lshBands(sigs, "doc_id", "sig", bands = 16, rowsPerBand = 4,
          Dedup.Md5Hasher),
        "doc_id")
      Dedup.candidateEval(cands,
        Dedup.ngramJaccardPairs(docs, "doc_id", "sh", 0.5, maxPosting = 500))
    }),

    "dedup_simhash" -> ((s, dir) => {
      val docs = Dedup.simhashFingerprints(
        tFan(s, dir, "documents").select(col("doc_id"),
          docTokens(col("text")).as("toks")), "doc_id", "toks",
        Dedup.Md5Hasher)
      Dedup.simhashPairs(docs, "doc_id", "sh64", hammingMax = 8)
    }),

    "dedup_embedding" -> ((s, dir) =>
      Similarity.exactDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4)),

    // cross-split SEMANTIC leak audit: embedding near-dup pairs whose
    // endpoints land in different train/val/test splits — the
    // contamination the n-gram gate can't see (paraphrases). Pair frame
    // from the RHP-LSH SCALE path (bucket equi-join — the all-pairs
    // exact path is quadratic in the corpus; same plane constants as
    // dedup_embedding_lsh, oracle-mirrored); split labels are the
    // deterministic md5 bucket, so the whole audit is engine-exact.
    // (corpus_leak_split is the FIX — group-aware assignment; this is
    // the MEASURE of what a naive id-hash split would leak.)
    "corpus_semantic_leak" -> ((s, dir) => {
      val pairs = Similarity.embeddingDupPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4, bits = 6, dim = 64)
      pairs.select(
          least(Sampling.splitLabel(col("id_a")),
            Sampling.splitLabel(col("id_b"))).as("split_x"),
          greatest(Sampling.splitLabel(col("id_a")),
            Sampling.splitLabel(col("id_b"))).as("split_y"))
        .groupBy(col("split_x"), col("split_y"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_leak",
          (col("split_x") =!= col("split_y")).cast("long"))
    }),

    // RHP-LSH scale path for embedding near-dup — the flagship embedding
    // query: candidate generation is a bucket equi-join (no nested-loop
    // join anywhere in the plan). Oracle-checked exactly: the bucketing is
    // deterministic, so the oracle recomputes the SAME buckets from the
    // same plane constants (rhpOracleSql) and mirrors the bucket join.
    // The exact all-pairs variant above stays as the small-SF differential
    // that bounds the recall loss.
    "dedup_embedding_lsh" -> ((s, dir) =>
      Similarity.embeddingDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, bits = 6, dim = 64)),

    // int8 quantization (4× storage cut before ANN indexing); q serialized
    // positionally — order is the payload, so no driverSafe sort
    "embedding_quantize" -> ((s, dir) => {
      val qz = Similarity.quantizeInt8(col("embedding"))
      t(s, dir, "embeddings").select(col("vec_id"),
          qz.getField("scale").as("scale"),
          array_join(transform(qz.getField("q"), _.cast("string")), "|").as("q"))
    }),

    // corpus-level one-pass summary (exact form; approx=true is the
    // 100 TB default with HLL distincts)
    "corpus_stats" -> ((s, dir) =>
      Sampling.corpusStats(t(s, dir, "documents"), "doc_id", "text")),

    // ---- similarity search ----------------------------------------------
    // right-to-be-forgotten sizing: rows referencing a subject delete
    // list, per table — one broadcast left join + conditional count each
    "privacy_delete_impact" -> ((s, dir) => {
      val victims = events(s, dir)
        .filter(pmod(col("user_id"), lit(deleteListMod)) === 0)
        .select(col("user_id"))
      Privacy.deleteImpact(Seq(
        ("events", events(s, dir), "user_id"),
        ("orders", t(s, dir, "orders"), "o_custkey"),
        ("customer", t(s, dir, "customer"), "c_custkey")),
        victims, "user_id")
    }),

    // (the host edge frame shared by graph_domain_rank / graph_ppr_seeds
    // is built by the private domainEdges helper below the queries map)

    // ε-DP released counts (discrete Laplace / two-sided geometric,
    // Ghosh et al. 2009): noise drawn deterministically by inverse-CDF
    // lookup of a stable 48-bit hash against driver-computed integer
    // thresholds — no float noise at release time, both engines replay
    // the identical draw; true counts never leave the query
    "privacy_dp_counts" -> ((s, dir) =>
      Privacy.dpNoisyCounts(events(s, dir), Seq("event_type"), dpSalt,
        dpEpsPpm)),

    // DP release over a PUBLIC fixed domain (the mode the contract
    // demands when the key set itself is sensitive): negative-balance
    // customers per nation, domain = the full 25-nation dimension —
    // nations with no such customer still emit a row with a noised ZERO,
    // so the released key set is data-independent
    "privacy_dp_counts_domain" -> ((s, dir) => {
      val neg = t(s, dir, "customer").filter(col("c_acctbal") < 0)
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"))
      Privacy.dpNoisyCounts(neg, Seq("n_name"), dpSalt, dpEpsPpm,
        Some(t(s, dir, "nation").select(col("n_name"))))
    }),

    // GDPR-pseudonymized export: user ids become stable salted md5
    // tokens (pure codegen projection), grouping survives tokenization
    "privacy_pseudonymize" -> ((s, dir) =>
      Privacy.pseudonymize(events(s, dir)
          .select(col("user_id"), col("event_type")),
        Seq("user_id"), pseudoSalt)
        .groupBy(col("user_id").as("pseudonym"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("event_type")).as("n_types"))),

    // filtered vector search: the metadata predicate applies BEFORE the
    // scan (pushed filter), top-k runs over the filtered corpus only
    "ann_filtered_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.filter(col("label") === annFilterLabel)
          .select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5)
    }),

    // kNN label-noise audit: probe sample vs strict-majority neighbor
    // vote — the "is this labeled set trainable" check; exact kNN is the
    // oracle mode, the LSH candidate frame is the 100 TB swap-in
    "embedding_label_noise" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.labelNoiseReport(emb, "vec_id", "embedding", "label",
        probes = emb.filter(pmod(col("vec_id"), lit(noiseProbeMod)) === 0),
        k = 5)
    }),

    "ann_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5)
    }),

    // margin-based parallel-pair mining (bitext / paraphrase alignment):
    // even vec_ids query the odd-id side corpus-wide through the shared
    // RHP buckets; a pair survives only when the best match leads the
    // runner-up by >= 20000 µ cosine — the absolute-margin criterion.
    // Both sides are corpus-sized: bucket equi-join (shuffle, bounded
    // candidates), salted top-2, exact µ-floored margins
    "corpus_bitext_mine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bitextMarginMine(
        emb.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", bits = 8, dim = 64, marginMu = 20000L,
        maxBucket = 1024)
        .orderBy("src_id")
    }),

    // what the RHP buckets MISS: precision/recall of the bucketed miner
    // against the exact capless margin criterion on a probe sample of
    // the query side — the ann_recall_report analog for bitext mining.
    // The probe set is HARD-CAPPED at 512 (stableCappedSample hash
    // order): a pct-only sample scales with the corpus and the exact
    // twin's probes × corpus scoring degenerates quadratic (measured
    // 4.5 s at sf1.0 → 402 s at sf10 with %8 probes); with the cap,
    // evaluation cost is (512 × corpus) — one linear scan at any SF
    "bitext_recall_report" -> ((s, dir) => {
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
    }),

    "ann_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5, bits = 8, dim = 64, multiProbe = true)
    }),

    // graph-based ANN: deterministic NN-descent k-NN graph (LSH-bucket
    // init in md5 order, 2 unrolled neighbor-of-neighbor rounds, md5
    // reverse caps, id tie-breaks) — the graph is built for the WHOLE
    // corpus (that is the artifact at scale); the probe rows < 8 are
    // what the oracle re-derives and recall is measured in AnnGraphSpec
    "ann_graph_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.nnDescentGraph(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv", k = 5, rounds = 2, bits = 4, dim = 64,
        initWindow = annGraphInitWindow, buildK = annGraphBuildK)
        .filter(col("node_id") < 8)
        .select(col("node_id").as("query_id"), col("rank"),
          col("neighbor_id"), col("sim"))
    }),

    // kNN-graph takedown (the last delete-family member to get a hash
    // oracle): build the published graph, delete ids {3, 5}, and repair
    // via prune + re-insert — affected survivors re-enter as fresh
    // inserts through appendToGraph's ball splice (window links + 2
    // in-ball refinement rounds), untouched nodes keep list AND rank
    // verbatim. The oracle extends the ann_graph_topk build unroll with
    // the same prune + ball replay
    "ann_graph_delete" -> ((s, dir) => {
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
    }),

    // recall@5 evaluation: multi-probe LSH vs exact brute force — the
    // tuning loop for every ANN knob, itself exactly oracle-checked
    // recall-vs-nprobe tradeoff curve for the anchor-mode IVF index: one
    // brute-force truth (persisted), four probe widths, macro totals +
    // floor-ppm recall per row — the knob-tuning table an ANN deployment
    // reads before picking its latency/recall point
    "ann_nprobe_curve" -> ((s, dir) => {
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
    }),

    "ann_recall_report" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.recallAtK(
        Similarity.lshTopK(corpus, "nid", "nv", qs, "qid", "qv",
          k = 5, bits = 8, dim = 64, multiProbe = true),
        Similarity.bruteForceTopK(corpus, "nid", "nv", qs, "qid", "qv", k = 5))
    }),

    // the SERVING path of graph ANN: greedy beam search over the
    // NN-descent graph (HNSW-style query loop, single layer) — NO
    // corpus scan at query time; 3 unrolled expand→score→top-8 rounds
    // seeded from the md5-min entry point of EVERY occupied LSH bucket
    // (≤ 2^4 seeds — a disconnected graph region stays reachable),
    // final top-5
    "ann_graph_search" -> ((s, dir) => {
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
    }),

    // hard-negative mining for embedding training (triplet/contrastive
    // batches): per probe anchor, the nearest SAME-label neighbor (the
    // positive) and the nearest OTHER-label neighbor (the hard negative)
    // with the floor-µ margin between them — the pair-construction pass
    // an embedding trainer runs over the corpus. One broadcast scan
    // (the brute-force shape), top-1 per side via a partial-agg struct
    // max (sim, then lowest id on ties) — no corpus-wide window
    "embedding_hard_negatives" -> ((s, dir) => {
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
    }),

    // KNN-Shapley data valuation (Jia et al. VLDB'19): exact closed-form
    // Shapley value of every training vector for a 5-NN classifier on
    // the 8 probe rows — quantized to integer qq units per term so the
    // suffix sums are order-free. Top-20 most valuable points: the
    // "which examples help validation" report
    "embedding_knn_shapley" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnShapleyValues(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", "label",
          k = 5)
        .groupBy(col("nid"), col("label"))
        .agg(sum(col("value_qq")).as("total_value_qq"))
        .orderBy(col("total_value_qq").desc, col("nid").asc)
        .limit(20)
    }),

    // the label-level rollup of the same valuation: which CLASS of
    // training data carries the probe set — the mixture-weight signal
    // (negative totals = labels that actively hurt these probes)
    "embedding_value_by_label" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnShapleyValues(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", "label",
          k = 5)
        .groupBy(col("label"))
        .agg(countDistinct(col("nid")).as("n_points"),
          sum(col("value_qq")).as("total_value_qq"))
    }),

    // the same recall loop for the NN-descent graph: how close the
    // 2-round refined graph sits to brute truth on the probe rows
    "ann_graph_recall" -> ((s, dir) => {
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
    }),

    // MMR diversified re-rank of the brute-force shortlist (λ = 0.7,
    // k = 3): the greedy trajectory is engine-exact (bit-identical
    // cosines, IEEE λ-arithmetic, id tie-breaks), so the oracle unrolls
    // the same 3 rounds — the graph_pagerank pattern for iterative ops
    "ann_mmr_topk" -> ((s, dir) => {
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
    }),

    // probed IVF serving: 4/16 cells per query. iters=0 is anchor mode
    // (centroids = the 16 lowest-id vectors, SQL-recomputable), so cell
    // assignment, probing, and the probed top-k are EXACTLY oracle-checked;
    // trained centroids stay the prod default, pinned by IvfSpec. salts=1
    // skips top-k stage 1: at these SFs the probed candidate set per query
    // is reducer-sized (SCALE.md documents sizing both knobs to data)
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ivf.topK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5, numCells = 16, nprobe = 4, iters = 0, salts = 1)
    }),

    // TAKEDOWN through the persisted IVF index: build on the full
    // corpus (anchor centroids), DELETE every vec_id % 3 == 0 via the
    // affected-cells-only rewrite, then probe ALL cells so the read
    // degenerates to exact brute force over the survivors — which is
    // exactly what the oracle computes; equality proves the on-disk
    // delete ≡ rebuild-from-remaining (IvfSpec pins the cell-file-level
    // equivalence incl. wholly-emptied cells)
    "ann_ivf_delete" -> ((s, dir) => {
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
    }),

    // search over the int8-QUANTIZED corpus (4× smaller storage): corpus
    // vectors round-trip through quantizeInt8/dequantize before scoring,
    // queries stay full precision — the standard compressed-index serving
    // shape. Exactly oracle-checked: quantization is deterministic, so
    // DuckDB recomputes the same dequantized corpus and the same top-k
    "ann_int8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qz = Similarity.quantizeInt8(col("embedding"))
      Similarity.bruteForceTopK(
        emb.select(col("vec_id").as("nid"),
          Similarity.dequantize(qz.getField("q"), qz.getField("scale")).as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5)
    }),

    // train/test n-gram contamination (decontamination gate): fraction of
    // each non-train doc's distinct 5-gram shingles that appear in ANY
    // train doc, under the same deterministic split as corpus_split
    "corpus_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), // fan A/B: 0.66x fanned
        Sampling.splitLabel(col("doc_id")).as("split"),
        TextFunctions.wordShingles(col("text"), 5).as("sh"))
      Sampling.contaminationReport(docs, "doc_id", "sh", "split")
    }),

    // nprobe = numCells probes EVERY cell, so IVF degenerates to exact
    // brute force regardless of the trained centroids — which makes the
    // whole train→quantize→probe→score→top-k pipeline oracle-checkable
    // against the brute-force SQL (IvfSpec pins the equivalence too)
    "ann_ivf_full" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ivf.topK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 5, numCells = 16, nprobe = 16, salts = 1)
    }),

    // ---- product quantization (IVF-PQ compression path) ------------------
    // driver queries run ANCHOR codebooks (iters = 0, SQL-recomputable —
    // the oracle-mode pattern Dedup.Hasher established); the prod default
    // is trainCodebooks(iters > 0), whose equivalence/quality PqSpec pins.
    // codes are positional (order IS the payload) → serialized unsorted,
    // mirrored by the oracle's ORDER BY m string_agg
    "pq_encode" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Pq.anchorCodebooks(emb, "vec_id", "embedding", m = 4, k = 16)
      Pq.withCodes(emb, "embedding", cb)
        .select(col("vec_id"),
          array_join(transform(col("codes"), _.cast("string")), "|").as("codes"))
    }),

    // ADC top-k over the coded corpus: sim = -squared-L2, ranked via the
    // same two-stage top-k as every other ANN path (salts = 1: candidate
    // set per query is the whole sf corpus here, reducer-sized)
    "ann_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Pq.anchorCodebooks(emb, "vec_id", "embedding", m = 4, k = 16)
      val coded = Pq.withCodes(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nv", cb).select(col("nid"), col("codes"))
      Pq.adcTopK(coded, "nid", "codes",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", cb, k = 5, salts = 1)
    }),

    // matryoshka-style serving: coarse cosine on the FIRST 16 dims picks
    // a top-20 shortlist (4x less compute/IO per candidate), exact 64-dim
    // cosine re-ranks to top-5
    "ann_matryoshka_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.truncatedRerankTopK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", dims = 16, k = 5, shortlist = 20, salts = 1)
    }),

    // Johnson-Lindenstrauss serving for non-matryoshka embeddings: coarse
    // cosine in a 16-dim Achlioptas sparse random projection (determinis-
    // tic +-sqrt(3/16)/0 matrix from an integer hash) picks the top-20
    // shortlist, exact 64-dim cosine re-ranks to top-5
    "ann_rp_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.rpRerankTopK(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid", "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", outDims = 16, dim = 64, k = 5, shortlist = 20,
        salts = 1)
    }),

    // two-stage retrieval: ADC top-20 shortlist, then exact-cosine re-rank
    // to top-5 — quantization error picks the shortlist, never the order
    "ann_pq_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Pq.anchorCodebooks(emb, "vec_id", "embedding", m = 4, k = 16)
      val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      val coded = Pq.withCodes(corpus, "nv", cb).select(col("nid"), col("codes"))
      Pq.rerankTopK(coded, "nid", "codes", corpus, "nv",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", cb, k = 5, shortlist = 20, salts = 1)
    }),

    // ---- text analysis ---------------------------------------------------
    "text_tokens" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.bpeishTokenCount(col("text")).as("n_bpeish"),
        TextFunctions.bagFingerprint(col("text")).as("bag_fp"))),

    "text_quality" -> ((s, dir) => {
      val feats = TextFunctions.qualityFeatures(col("text"))
      t(s, dir, "documents").select(
        col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
    }),

    // Gopher-style intra-doc repetition ACROSS gram sizes (Rae et al.
    // 2021 §A1.1): top n-gram share per doc for n=1..3 in one tagged
    // explode — text_repetition's bigram profile widened to the
    // unigram/trigram signals the Gopher gates actually threshold
    "text_repetition_ngram" -> ((s, dir) =>
      TextFunctions.repetitionReport(tFan(s, dir, "documents"), "doc_id",
        "text")),

    "text_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_guess"))),

    // public crawl-quality rule pack (Gopher Table A1 + C4 §2.2 +
    // encoding hygiene) as ONE scan + |sources| aggregate: per-rule
    // violation counts and the Gopher-gated keep count — the standardized
    // pretraining filter recipe over this corpus
    "text_rule_screen" -> ((s, dir) =>
      TextFunctions.qualityRuleScreen(t(s, dir, "documents"),
        "text", "source")),

    // trainable linear gate: full-batch integer perceptron on ppm text
    // features (bias/stopword/word-len/alpha/digit) vs the en-label —
    // each round ONE 6-number aggregate under literal weights (mean
    // update ⌊Σ/N⌋ keeps weights corpus-size-independent); the oracle
    // unrolls the same 3 rounds as 1-row CTEs
    "text_langid_perceptron" -> ((s, dir) => {
      val sw = array(TextFunctions.stopwords("en").map(lit): _*)
      def ppm(num: Column, den: Column): Column =
        Sampling.intDivExact(num.cast("long") * 1000000L,
          greatest(den.cast("long"), lit(1L)))
      val feats = t(s, dir, "documents")
        .select(col("lang"), col("text"), docTokens(col("text")).as("_toks"))
        .select(when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
          lit(1000000L).as("f_bias"),
          ppm(size(filter(col("_toks"), tk => array_contains(sw, tk))),
            size(col("_toks"))).as("f_stop"),
          ppm(aggregate(col("_toks"), lit(0L), (a, tk) => a + length(tk)),
            size(col("_toks"))).as("f_awl"),
          ppm(length(regexp_replace(col("text"), "[^A-Za-z]", "")),
            length(col("text"))).as("f_alpha"),
          ppm(length(regexp_replace(col("text"), "[^0-9]", "")),
            length(col("text"))).as("f_digit"))
      Perceptron.trainStats(feats, "y",
        Seq("f_bias", "f_stop", "f_awl", "f_alpha", "f_digit"),
        rounds = perceptronRounds)
    }),

    // data-mixture sampler: per-language keep rates (en 80% / de 50% /
    // others 20%), membership a pure function of (doc_id, stratum rate) —
    // one scan-stage predicate, no shuffle, no strata counting
    "corpus_stratified" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang"))
      Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
        Map("en" -> 80, "de" -> 50), defaultPct = 20)
    }),

    "text_rolling_fp" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.rollingHash(col("text")).as("rolling_fp"))),

    // PII scrub: URL/email/IP/phone → typed placeholders, the standard
    // pre-training redaction pass (RE2-safe regexes mirrored in the oracle)
    "text_redact" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.redactPii(col("text")).as("redacted"))),

    // Luhn mod-10 screen for card-like digit runs — validity, not just
    // length, separates real card numbers from order ids/timestamps (the
    // dominant false-positive class of length-based card redaction). The
    // candidates are PLANTED deterministically per doc: a 15-digit
    // md5-derived base gets its true Luhn check digit on even doc_ids
    // and check+1 on odd — the screen must agree with the construction
    // on every row, and the oracle replays construction AND screen
    "text_luhn_screen" -> ((s, dir) => {
      val base = lpad(pmod(Dedup.Md5Hasher(col("doc_id").cast("string")),
        lit(1000000000000000L)).cast("string"), 15, "0")
      t(s, dir, "documents")
        .select(col("doc_id"), base.as("base"))
        .select(col("doc_id"), concat(col("base"),
          when(col("doc_id") % 2 === 0,
            TextFunctions.luhnCheckDigit(col("base")))
            .otherwise((TextFunctions.luhnCheckDigit(col("base")) + 1) % 10)
            .cast("string")).as("digits"))
        .select(col("digits"),
          TextFunctions.luhnValid(col("digits")).as("valid"),
          (col("doc_id") % 2 === 0).as("expected"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("valid"), 1L).otherwise(0L)).cast("long")
            .as("n_valid"),
          sum(when(col("valid") === col("expected"), 1L).otherwise(0L))
            .cast("long").as("n_agree"))
    }),

    // deterministic sampling/splitting: membership is a pure function of
    // the doc id (stable across runs/engines/corpus growth)
    "corpus_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.stableSample(docs, col("doc_id"), pct = 50)
        .select(col("doc_id"),
          Sampling.stableBucket(col("doc_id")).as("bucket"),
          Sampling.splitLabel(col("doc_id")).as("split"))
    }),

    // repetition profile (Gopher/C4-style boilerplate signal)
    "text_repetition" -> ((s, dir) =>
      Sampling.repetitionProfile(t(s, dir, "documents"), "doc_id", "text")),

    // context-window chunking: overlapping 64-token windows, stride 48
    "text_chunk" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("_toks"))
        .select(col("doc_id"),
          posexplode(TextFunctions.chunkTokens(col("_toks"), 64, 48))
            .as(Seq("chunk_idx", "chunk_text")))),

    // deterministic sequence packing into 512-token bins; shard count is
    // SIZED TO TOKEN VOLUME (8192 tokens/shard here; see SCALE.md for the
    // 100 TB rule) so per-reducer work stays constant as the corpus grows —
    // the oracle recomputes the same count from the same volume
    "corpus_pack" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val shards = Sampling.shardsForVolume(toks, "n_tokens",
        tokensPerShard = 8192)
      Sampling.packBins(toks, "doc_id", "n_tokens",
        Sampling.stableBucket(col("doc_id"), shards), target = 512)
    }),

    // top-100 vocabulary by frequency (ties broken by token): orderBy +
    // limit plans as TakeOrderedAndProject — per-partition partial top-K
    // merged on the driver, NO global sort — the scale-safe global top-K
    // OOV rate per source vs the corpus top-16 vocabulary (count-desc,
    // token tie-break — the vocab_topk rule): the tokenizer-coverage /
    // domain-shift triage signal. TakeOrdered vocab → broadcast join →
    // one linear aggregation
    "vocab_oov_by_source" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("_n"))
        .orderBy(col("_n").desc, col("tok")).limit(16)
        .select(col("tok"), lit(1).as("_in"))
      toks.join(broadcast(vocab), Seq("tok"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("_in").isNull, 1)).as("n_oov"))
        .withColumn("oov_ppm", expr("(n_oov * 1000000L) div n_tokens"))
    }),

    // train/test length-distribution drift: the EXACT two-sample KS
    // statistic — cumulative counts over the per-value HISTOGRAM (the
    // window input is |distinct lengths|, not the corpus), gap kept as
    // exact integer cross-products, the final ratio one fixed IEEE
    // division over exact decimal sums (the CUPED discipline)
    "corpus_split_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
          Sampling.splitLabel(col("doc_id")).as("split"), col("n_chars"))
        .filter(col("split").isin("train", "test"))
      val hist = d.groupBy(col("n_chars")).agg(
        count(when(col("split") === "train", 1)).as("_tr"),
        count(when(col("split") === "test", 1)).as("_te"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("n_chars"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val tot = d.agg(
        count(when(col("split") === "train", 1)).as("n_train"),
        count(when(col("split") === "test", 1)).as("n_test"))
      hist
        .withColumn("_ctr", sum(col("_tr")).over(w).cast("decimal(38,0)"))
        .withColumn("_cte", sum(col("_te")).over(w).cast("decimal(38,0)"))
        .crossJoin(broadcast(tot))
        .withColumn("_gap", abs(col("_ctr") * col("n_test") -
          col("_cte") * col("n_train")))
        .groupBy(col("n_train"), col("n_test"))
        .agg(max(struct(col("_gap").as("g"),
          (-col("n_chars")).as("negv"))).as("_m"))
        .select(col("n_train"), col("n_test"),
          floor(col("_m").getField("g").cast("double") * lit(1000000d) /
            (col("n_train").cast("double") * col("n_test").cast("double")))
            .cast("long").as("ks_ppm"),
          (-col("_m").getField("negv")).cast("long").as("ks_at_chars"))
    }),

    "vocab_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(100)),

    // HyperLogLog distinct-vocabulary sketch, md5-register deterministic
    // (Hll.scala): per-source sketches PLUS the '__all' row MERGED from
    // the per-source registers (register-wise max — mergeability is the
    // whole point of the sketch at 100 TB: m longs per group, partial-agg
    // friendly); each row rides with the exact distinct count so the
    // realized error is part of the verified output
    "vocab_hll" -> ((s, dir) => {
      val terms = t(s, dir, "documents")
        .select(col("source"), explode(docTokens(col("text"))).as("term"))
      // ONE pass, ONE hash aggregate: the graft_hll_regs
      // TypedImperativeAggregate folds terms into m-byte register
      // buffers map-side (no distinct, no (group, reg) shuffle) and
      // rollup's grand-total group IS the '__all' merged sketch —
      // mergeability for free via the partial-agg contract
      val regs = terms
        .rollup(col("source"))
        .agg(Hll.sketchAgg("term").as("_regs"),
          grouping(col("source")).as("_gt")) // grouping() only resolves
        .select(                             // inside the Aggregate
          when(col("_gt") === 1, lit("__all"))
            .otherwise(col("source")).as("source"),
          col("_regs"))
      val est = Hll.estimateFromRegs(regs, "_regs")
      val dt = terms.distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = dt.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
        .unionByName(dt.select(col("term")).distinct()
          .agg(count(lit(1)).as("n_exact")).withColumn("source", lit("__all")))
      def exactDiv(num: Column, den: Column): Column =
        Sampling.intDivExact(num, den)
      val out = est.join(exact, "source")
        .select(col("source"), col("n_exact"), col("zero_regs"),
          col("raw_est"), col("est"),
          exactDiv(abs(col("est") - col("n_exact")) * lit(1000000L),
            col("n_exact")).as("err_ppm"))
        .transform(Frames.truncate)
      dt.unpersist(false)
      out
    }),

    // KMV bottom-k sketch: per-source distinct-token estimates off the
    // 256 smallest md5-60 hashes — deterministic (hash-replayable in any
    // engine, unlike probabilistic-by-seed sketches) and, unlike HLL,
    // a uniform SAMPLE of the hash space, which is what makes the
    // intersection query below possible at all
    "sketch_kmv_distinct" -> ((s, dir) => {
      val terms = t(s, dir, "documents")
        .select(col("source"), explode(docTokens(col("text"))).as("term"))
      Kmv.sketch(terms, "term", Seq("source"), 256)
        .select(col("source"), size(col("kmv")).cast("long").as("n_kept"),
          Kmv.estimateCol(col("kmv"), col("k")).as("est_distinct"))
    }),

    // pairwise source-overlap estimates from the SAME sketches: union
    // sketch -> n_common members present in both -> |A∩B| and Jaccard
    // (Beyer et al. SIGMOD'07 §4) — the "how much does source X overlap
    // source Y" matrix HLL cannot answer (inclusion–exclusion error
    // explodes for small overlaps), at k-sized cost per source pair
    "sketch_kmv_intersect" -> ((s, dir) => {
      val terms = t(s, dir, "documents")
        .select(col("source"), explode(docTokens(col("text"))).as("term"))
      Kmv.intersectEstimates(
        Kmv.sketch(terms, "term", Seq("source"), 256), "source")
    }),

    // the KMV merge law END TO END at the gate: sketch the two corpus
    // snapshots separately (stable md5 buckets <80 / >=80 — the
    // corpus_delta split), merge the per-snapshot sketches, estimate off
    // the MERGED sketch — while the oracle computes the whole-corpus
    // sketch directly. Hash equality across engines IS the lossless
    // roll-up law (bottom-k of union == merge of bottom-k's), the same
    // shared-oracle-text pattern as CELF ≡ exact greedy
    "sketch_kmv_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = Sampling.stableBucket(col("doc_id"))
      def sk(d: DataFrame, out: String) = Kmv.sketch(
        d.select(col("source"), explode(docTokens(col("text"))).as("term")),
        "term", Seq("source"), 256)
        .select(col("source"), col("kmv").as(out))
      val empty = array().cast("array<bigint>")
      sk(docs.filter(bucket < 80), "kva")
        .join(sk(docs.filter(bucket >= 80), "kvb"), Seq("source"), "full")
        .select(col("source"), Kmv.mergeCol(
          coalesce(col("kva"), empty), coalesce(col("kvb"), empty),
          lit(256)).as("kmv"))
        .select(col("source"), size(col("kmv")).cast("long").as("n_kept"),
          Kmv.estimateCol(col("kmv"), lit(256)).as("est_distinct"))
    }),

    // incremental-sketch merge law, end to end: two corpus snapshots
    // (stable md5 buckets <80 / >=80 — the corpus_delta split), a sketch
    // per snapshot, register-wise merge (Hll.mergeRegs), and an
    // INDEPENDENTLY computed whole-corpus sketch; merge_exact pins
    // sketch(A) ⊔ sketch(B) ≡ sketch(A ∪ B) per source — the property
    // that lets a persisted sketch artifact absorb corpus growth without
    // rescanning history (Hll.writeSketch/readSketch, spec-verified)
    "vocab_hll_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = Sampling.stableBucket(col("doc_id"))
      def sketch(d: DataFrame, rc: String) = d
        .select(col("source"), explode(docTokens(col("text"))).as("term"))
        .groupBy(col("source")).agg(Hll.sketchAgg("term").as(rc))
      val a = sketch(docs.filter(bucket < 80), "_ra")
      val b = sketch(docs.filter(bucket >= 80), "_rb")
      val merged = a.join(b, Seq("source"), "full_outer")
        .select(col("source"), Hll.mergeRegs(col("_ra"), col("_rb"))
          .as("_regs"))
      val full = sketch(docs, "_rf")
      val joined = merged.join(full, Seq("source"))
        .withColumn("merge_exact", col("_regs") === col("_rf"))
        .drop("_rf")
      Hll.estimateFromRegs(joined, "_regs")
        .select(col("source"), col("zero_regs"), col("raw_est"),
          col("est"), col("merge_exact"))
    }),

    // Heaps'-law vocabulary-growth fit (Zipf's companion, same integer
    // log2-bucket least squares): 8 doc-id-prefix checkpoints, each a
    // conditional sum in ONE scan (token totals) + ONE first-occurrence
    // aggregation (vocab sizes) — no per-prefix rescans
    "vocab_heaps" -> ((s, dir) =>
      Vocab.heapsFit(t(s, dir, "documents"), "doc_id", "text",
        checkpoints = heapsCheckpoints)),

    // hashing-trick audit (Weinberger et al., ICML'09): terms → md5
    // buckets mod D, top-20 most-collided buckets riding with the global
    // collision stats — the "is D big enough" check before a
    // feature-hashed model ships; one vocab-sized groupBy, output bounded
    "text_feature_hashing" -> ((s, dir) => {
      val terms = t(s, dir, "documents")
        .select(explode(docTokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      val buckets = terms
        .groupBy(pmod(Dedup.Md5Hasher(col("term")), lit(featHashD.toLong))
          .as("bucket"))
        .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val summary = buckets.agg(
        sum(col("n_terms")).as("vocab_size"),
        count(lit(1)).as("buckets_used"))
        .select(col("vocab_size"), col("buckets_used"),
          Sampling.intDivExact(
            (col("vocab_size") - col("buckets_used")) * lit(1000000L),
            col("vocab_size")).as("collision_ppm"))
      val out = buckets
        .orderBy(col("n_terms").desc, col("bucket"))
        .limit(20)
        .crossJoin(broadcast(summary))
        .transform(Frames.truncate)
      buckets.unpersist(false)
      out
    }),

    // count-min sketch heavy hitters: fixed depth×width counter frame
    // (corpus-size-independent state — the mergeable monitoring sketch),
    // estimates for the exact top-100 tokens ride next to their true
    // counts; md5 hasher mode = the SQL-recomputable oracle form
    "vocab_cms_topk" -> ((s, dir) => {
      val toks = tFan(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      val sk = Cms.sketch(toks, "token", depth = 4, width = 1024,
        Dedup.Md5Hasher)
      val top = toks.groupBy("token").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("token")).limit(100)
      Cms.estimate(sk, top.select("token"), "token", 4, 1024,
          Dedup.Md5Hasher)
        .join(top, "token")
        .select(col("token"), col("n_true"), col("est").as("n_est"))
    }),

    // BPE round-0 statistics: the adjacent character-pair counts behind
    // the first merge decision, top-50 — the corpus collapses to the
    // (word, freq) vocabulary before any pair work (Bpe.train, spec'd,
    // iterates the same frame; the round-0 stats are the SQL-expressible
    // slice, the anchor-mode pattern used for IVF/PQ)
    "bpe_pair_stats" -> ((s, dir) => {
      val words = Bpe.wordCounts(t(s, dir, "documents"), col("text"))
      Bpe.pairStats(words, "word", "freq")
        .orderBy(col("cnt").desc, col("pair")).limit(50)
    }),

    // the full BPE TRAINING LOOP (Sennrich et al. 2016), oracle-gated:
    // 4 merge rounds over the (word, freq) vocabulary frame, each round =
    // one pair-count shuffle + a 1-row argmax collect + one greedy fold.
    // The oracle replays the identical trajectory in DuckDB as a
    // positions table (gaps-and-islands parity = greedy leftmost — for a
    // pair (a,b), overlapping matches exist only when a=b, where greedy
    // takes the 1st, 3rd, … match of each run); engine fold vs oracle
    // window math are independent formulations of the same semantics
    "bpe_train_merges" -> ((s, dir) => {
      import s.implicits._
      val words = Bpe.wordCounts(t(s, dir, "documents"), col("text")) // fan A/B: 0.63x fanned
      Bpe.trainStats(words, "word", "freq", numMerges = 4, minCount = 2L)
        .toDF("step", "l", "r", "cnt")
        .select(col("step").cast("long").as("step"), col("l"), col("r"),
          col("cnt"))
        .orderBy("step")
    }),

    // the SCALE mode of the same trainer: aggregate the vocabulary once,
    // run the merge loop driver-local (Bpe.trainStatsLocal — incremental
    // pair index, no per-merge Spark job); bit-identical trajectory to
    // the distributed twin by construction, proven here against the SAME
    // DuckDB replay oracle and in BpeSpec at 1000+ merges
    "bpe_train_local" -> ((s, dir) => {
      import s.implicits._
      val words = Bpe.wordCounts(t(s, dir, "documents"), col("text"))
      Bpe.trainStatsLocal(words, "word", "freq", numMerges = 4,
          minCount = 2L)
        .toDF("step", "l", "r", "cnt")
        .select(col("step").cast("long").as("step"), col("l"), col("r"),
          col("cnt"))
        .orderBy("step")
    }),

    // apply the trained merge table: the tokenizer the loop produced,
    // run over the 100 highest-frequency words — per word the encoded
    // symbol string and symbol count (fertility of the 4-merge vocab)
    "bpe_encode_sample" -> ((s, dir) => {
      val words = Bpe.wordCounts(t(s, dir, "documents"), col("text")) // fan A/B: 0.53x fanned
      val merges = Bpe.train(words, "word", "freq", numMerges = 4)
      words
        .withColumn("sym", Bpe.encode(col("word"), merges))
        .select(col("word"), col("freq"),
          concat_ws(" ", col("sym")).as("encoded"),
          size(col("sym")).cast("long").as("n_sym"))
        .orderBy(col("freq").desc, col("word")).limit(100)
    }),

    // the SERVING path of the same tokenizer: train driver-local (6
    // merges here; bit-identical to the distributed loop), then encode
    // through the broadcast rank-table mapPartitions kernel
    // (Bpe.encodeWords) instead of 6 chained expression folds — the mode
    // that survives a 32k-merge vocabulary. The oracle replays SIX
    // training rounds in DuckDB and reads the final positions table:
    // hash-equality proves the serving kernel IS the fold
    "bpe_encode_trie" -> ((s, dir) => {
      val words = Bpe.wordCounts(t(s, dir, "documents"), col("text"))
      val merges = Bpe.trainLocal(words, "word", "freq", numMerges = 6)
      Bpe.encodeWords(words, "word", merges)
        .select(col("word"), col("freq"),
          concat_ws(" ", col("sym")).as("encoded"),
          size(col("sym")).cast("long").as("n_sym"))
        .orderBy(col("freq").desc, col("word")).limit(100)
    }),

    // CORPUS-grain tokenization (the serving pipeline's real shape):
    // train 6 merges, encode each DISTINCT word once, join the encoding
    // back onto the positional token stream, reassemble per-doc token
    // arrays — encode work is vocabulary-sized however large the corpus.
    // The oracle replays the same 6 merges (shared sqlBpeRoundsN CTE with
    // bpe_encode_trie) and rebuilds per-doc streams by ordered string_agg
    "bpe_corpus_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val words = Bpe.wordCounts(docs, col("text"))
      val merges = Bpe.trainLocal(words, "word", "freq", numMerges = 6)
      Bpe.encodeCorpus(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          concat_ws(" ", col("tokens")).as("encoded"),
          size(col("tokens")).cast("long").as("n_tokens"))
        .orderBy("doc_id").limit(100)
    }),

    // preference-data curation (RLHF/DPO ranking step): within-order
    // quantity comparisons at brand grain → Bradley-Terry strengths via
    // 3 exact integer MM iterations (Preference.btScores µ-ladder; the
    // oracle unrolls the identical fixed point). Comparisons collapse to
    // the symmetric pair frame in one shuffle; iterations are broadcast
    // joins over items only — never a rescan of the comparison log
    "pref_bt_scores" -> ((s, dir) => {
      Preference.btScores(prefComparisons(s, dir), "w", "l", iters = 3)
        .orderBy(col("score_mu").desc, col("item"))
    }),

    // the head-to-head evidence behind the BT fit: symmetric pair frame
    // with integer-ppm win rates — the matrix a preference-data audit
    // reads before trusting the fitted ranking
    "pref_pair_matrix" -> ((s, dir) => {
      Preference.pairFrame(prefComparisons(s, dir), "w", "l")
        .select(col("i"), col("j"), col("nij"), col("wij"),
          expr("(wij * 1000000L) div nij").as("winrate_ppm"))
        .orderBy("i", "j")
    }),

    // DPO/RLHF training-pair construction from the comparison log: keep
    // (chosen, rejected) where the win rate clears 54% over >= 20 games —
    // the evidence gates are division-free integer comparisons, the
    // margin is the exact floored ppm excess over a coin flip
    "pref_dpo_pairs" -> ((s, dir) => {
      Preference.pairFrame(prefComparisons(s, dir), "w", "l")
        .filter(col("nij") >= 20 &&
          expr("wij * 1000000L >= 540000L * nij"))
        .select(col("i").as("chosen"), col("j").as("rejected"),
          col("nij"), col("wij"),
          expr("(wij * 2000000L - nij * 1000000L) div nij").as("margin_ppm"))
        .orderBy("chosen", "rejected")
    }),

    // the pairs a DPO trainer ACTUALLY consumes: chosen and rejected are
    // responses to the SAME prompt (order) — per-prompt win rates, top
    // vs bottom item, division-free strict gate (Preference.promptPairs;
    // pref_dpo_pairs above is the global-evidence screen, this is the
    // per-prompt construction the round-11 verdict asked for)
    "pref_dpo_prompt_pairs" -> ((s, dir) => {
      Preference.promptPairs(promptComparisons(s, dir), "prompt", "w", "l")
        .orderBy("prompt")
    }),

    // annotation-reliability gate BEFORE any BT fit is trusted:
    // Krippendorff's alpha (nominal) over the comparison log — units are
    // unordered item pairs, categories {low item wins, high item wins};
    // per-unit disagreement terms floored to µ8 (order-free integer sum,
    // the PSI convention), final alpha assembled in DECIMAL(38,0)
    "pref_krippendorff_alpha" -> ((s, dir) =>
      Preference.krippendorffAlpha(prefComparisons(s, dir), "w", "l")),

    // the GENERAL-nominal alpha (>=2 categories, arbitrary per-unit
    // multiplicity): each lineitem is one rating of its order into the
    // 3-category return-flag space — n_u² − Σo² per-unit terms, margins
    // over pairable units only, same µ8/DECIMAL ladder as the binary gate
    "pref_krippendorff_nominal" -> ((s, dir) =>
      Preference.krippendorffAlphaNominal(
        t(s, dir, "lineitem").select(col("l_orderkey").as("u"),
          col("l_returnflag").as("c")), "u", "c")),

    // INTERVAL-metric alpha for numeric ratings: each lineitem rates its
    // order with l_quantity (1..50) — squared-difference disagreement in
    // moment form (count, Σv, Σv²), same µ8/DECIMAL ladder; the binary
    // gate is this operator's two-point special case (spec-pinned)
    "pref_krippendorff_interval" -> ((s, dir) =>
      Preference.krippendorffAlphaInterval(
        t(s, dir, "lineitem").select(col("l_orderkey").as("u"),
          col("l_quantity").as("v")), "u", "v")),

    // distribution drift between snapshot halves (stable-bucket split):
    // integer-exact ppm frequencies per side, top-30 movers — the
    // post-ingest monitoring report
    "corpus_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Vocab.driftTopK(
        docs.filter(Sampling.stableBucket(col("doc_id")) < 50),
        docs.filter(Sampling.stableBucket(col("doc_id")) >= 50),
        "text", k = 30)
    }),

    // corpus min_count pass: tokens seen < 3 times anywhere become <unk>
    // — vocab capping + long-tail privacy (singleton tokens are names,
    // ids, keys) complementing the pattern-based text_redact
    "corpus_unk_rare" -> ((s, dir) =>
      Vocab.minCountScrub(t(s, dir, "documents"), "doc_id", "text",
        minCount = 3)),

    // snapshot diff for incremental ingestion: old = stable buckets 0-89,
    // new = buckets 5-99 with every 7th doc revised — added/removed/
    // changed/unchanged by normalized content fingerprint
    "corpus_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusDelta.snapshotDelta(
        docs.filter(Sampling.stableBucket(col("doc_id")) < 90)
          .select(col("doc_id"), col("text")),
        docs.filter(Sampling.stableBucket(col("doc_id")) >= 5)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
              .otherwise(col("text")).as("text")),
        "doc_id", "text")
    }),

    // what does each source actually contain: top-5 distinctive terms
    // per source by group-level tf-idf (shared terms score 0)
    "corpus_top_terms" -> ((s, dir) =>
      Vocab.topTerms(t(s, dir, "documents"), "text", "source", k = 5)),

    // top-50 collocations by PMI (min pair count 5): multi-word units for
    // tokenizer vocab decisions; implausibly high PMI across many docs
    // flags boilerplate templates
    "corpus_pmi" -> ((s, dir) =>
      Vocab.pmiTopK(t(s, dir, "documents"), "text", minCount = 5, k = 50)),

    // screen a new batch (stable buckets 80-99) against the existing
    // corpus (buckets 0-79): exact fingerprint + MinHash LSH band
    // existence probes — left_semi joins, so no quadratic bucket risk and
    // no cap (an ingest never pairs the corpus with itself). Md5Hasher =
    // the SQL-recomputable oracle mode, same as dedup_minhash_lsh
    "corpus_ingest" -> ((s, dir) => {
      val docs = tFan(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = Sampling.stableBucket(col("doc_id"))
      Dedup.ingestDedupReport(
        docs.filter(bucket < 80), docs.filter(bucket >= 80),
        "doc_id", "text", hasher = Dedup.Md5Hasher)
    }),

    // length-bucketed training batches (batch 8 docs, 4 stable shards):
    // per-batch padding waste when padded to the longest member — the
    // dynamic-batching design pass before writing training shards
    "corpus_batches" -> ((s, dir) =>
      Sampling.lengthBucketBatches(
        t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", batchSize = 8, shards = 4)),

    // curriculum staging: exact FK-grade quartile thresholds via the
    // bisect path (driver literals, NO percentile aggregate / corpus
    // sort), 4 difficulty stages with token budgets and exact floor-mean
    // grades — the easy→hard training-order planner
    "corpus_curriculum" -> ((s, dir) => {
      val base = tFan(s, dir, "documents")
        .select(TextFunctions.tokenCount(col("text")).cast("long")
          .as("n_toks"),
          TextFunctions.fkGradeUs(col("text")).as("fk_us"))
        .filter(col("fk_us").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qs = Profile.exactQuantileValues(base, Seq("fk_us"), currQsPpm)
      val Seq(t1, t2, t3) = currQsPpm.map(q => qs(("fk_us", q)))
      val stage = when(col("fk_us") <= t1, 0L).when(col("fk_us") <= t2, 1L)
        .when(col("fk_us") <= t3, 2L).otherwise(3L)
      val out = base.groupBy(stage.as("stage"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("token_sum"),
          min(col("fk_us")).as("fk_min_us"),
          max(col("fk_us")).as("fk_max_us"),
          Sampling.intDivExact(sum(col("fk_us").cast(DecimalType(38, 0))),
            count(lit(1))).as("fk_mean_us"))
        .select(col("stage"), col("n_docs"), col("token_sum"),
          col("fk_min_us"), col("fk_max_us"), col("fk_mean_us"),
          lit(t1).as("q25_us"), lit(t2).as("q50_us"), lit(t3).as("q75_us"))
        .transform(Frames.truncate)
      base.unpersist(false)
      out
    }),

    // sequence-packing report (LLM pretraining concat-and-chunk): per
    // source, documents concatenate in doc_id order into one token
    // stream sliced into fixed 512-token context windows — the report a
    // training job reads before packing a shard: window count, share of
    // docs straddling a window boundary (attention-mask fragmentation),
    // and tail-window waste. ONE source-keyed window cumsum (the
    // partition key IS the shard, packing is per-shard by definition) +
    // one aggregation; everything exact integers
    "corpus_pack_windows" -> ((s, dir) => {
      val C = packCapacity
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val per = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(docTokens(col("text"))).cast("long").as("n"))
        .withColumn("_cum", sum(col("n")).over(w))
        .withColumn("_start", col("_cum") - col("n"))
        // a doc straddles a boundary iff its token span [start, cum)
        // crosses a multiple of C; zero-token docs never straddle
        .withColumn("_straddle",
          when(col("n") > 0 &&
            Sampling.intDivExact(col("_start"), lit(C)) =!=
              Sampling.intDivExact(col("_cum") - 1, lit(C)), 1L)
            .otherwise(0L))
      per.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("total_tokens"),
          sum(col("_straddle")).as("n_boundary_docs"))
        .withColumn("n_windows",
          Sampling.intDivExact(col("total_tokens") + lit(C - 1), lit(C)))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("n_windows"), col("n_boundary_docs"),
          Sampling.intDivExact(col("n_boundary_docs") * lit(1000000L),
            greatest(col("n_docs"), lit(1L))).as("boundary_ppm"),
          Sampling.intDivExact(
            (col("n_windows") * lit(C) - col("total_tokens")) *
              lit(1000000L),
            greatest(col("n_windows") * lit(C), lit(1L))).as("waste_ppm"))
    }),

    // deterministic half-sample bootstrap (random subsampling, Hartigan
    // 1969 flavor): 32 md5-keyed half-replicas of the corpus evaluated in
    // ONE scan (64 conditional aggregates — no B-fold rescan), replica
    // means ranked on the 32-row frame only — a metric's sampling spread
    // without any RNG state, reproducible across engines and reruns
    "corpus_bootstrap_ci" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val B = bootReplicas
      def kq(qPpm: Long) = math.max(1L, (qPpm * B + 999999L) / 1000000L)
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("v"))
      val repAggs = (0 until B).flatMap { b =>
        val member =
          pmod(Dedup.Md5Hasher(col("doc_id"), lit(b)), lit(2L)) === 0
        Seq(sum(when(member, col("v")).otherwise(0L)
            .cast(DecimalType(38, 0))).as(s"s$b"),
          sum(when(member, 1L).otherwise(0L)).as(s"c$b"))
      } ++ Seq(sum(col("v").cast(DecimalType(38, 0))).as("fs"),
        count(lit(1)).as("fc"))
      // truncate: wide (the 66-aggregate scan) feeds BOTH the ranked
      // subtree and the final full-mean select — without it the whole
      // scan re-executes per consumer (the hits() lesson)
      val wide = d.agg(repAggs.head, repAggs.tail: _*)
        .transform(Frames.truncate)
      val stackExpr = s"stack($B, " + (0 until B)
        .map(b => s"CAST($b AS BIGINT), s$b, c$b").mkString(", ") +
        ") as (b, s, c)"
      val ranked = wide.select(expr(stackExpr))
        .select(col("b"), Sampling.intDivExact(col("s") * lit(1000000L),
          greatest(col("c"), lit(1L))).as("mean_us"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("mean_us"), col("b")))) // 32-row frame only
      val picks = ranked.agg(
        max(when(col("rn") === kq(100000), col("mean_us"))).as("boot_p10_us"),
        max(when(col("rn") === kq(500000), col("mean_us"))).as("boot_p50_us"),
        max(when(col("rn") === kq(900000), col("mean_us"))).as("boot_p90_us"))
      wide.select(Sampling.intDivExact(col("fs") * lit(1000000L), col("fc"))
          .as("full_mean_us"), lit(B.toLong).as("n_replicas"))
        .crossJoin(broadcast(picks))
        .select(col("full_mean_us"), col("n_replicas"), col("boot_p10_us"),
          col("boot_p50_us"), col("boot_p90_us"),
          (col("boot_p90_us") - col("boot_p10_us")).as("spread_us"))
    }),

    // nearest-centroid label propagation: per-label mean centroids from
    // the labeled 80% (stable buckets), held-out 20% classified by best
    // cosine with a best-minus-second confidence margin — doubles as a
    // holdout accuracy report (`correct`)
    "corpus_classify" -> ((s, dir) =>
      Similarity.nearestCentroidClassify(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", trainPct = 80)),

    // multinomial Naive Bayes language ID trained on the stable 80% and
    // scored on the held-out 20% — the SQL-recomputable stand-in for the
    // fastText-style classifiers production filters use; add-1 smoothing,
    // DECIMAL log-sums, argmax with best-minus-second margin
    "corpus_nb_lang" -> ((s, dir) =>
      NaiveBayes.classify(t(s, dir, "documents"), "doc_id", "text", // fan A/B: 0.46x fanned
        "lang", trainPct = 80, alpha = 1.0)),

    // per-language inspection examples: first 3 docs per lang in stable-
    // hash order (WindowGroupLimit keeps the per-stratum reducer bounded)
    "corpus_examples" -> ((s, dir) =>
      Sampling.stratumExamples(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          col("doc_id"), col("lang"), n = 3)
        .select(col("lang"), col("example_rank"), col("doc_id"))),

    // quality-gate calibration: data-derived thresholds (percentiles of
    // the quality features) — exact mode here for the oracle; approx=true
    // (t-digest sketches) is the 100 TB default
    "corpus_calibrate" -> ((s, dir) =>
      Sampling.qualityCalibration(t(s, dir, "documents"), "doc_id", "text")),

    // per-source monitoring: docs/tokens/mean-quality/language-spread by
    // origin — the dashboard aggregation behind mixture decisions (mean
    // over DECIMAL so the double sum order cannot flap the hash)
    // referential-integrity audit over the TPC-H graph: per FK edge one
    // row-preserving left join + conditional count; NULL FKs are orphans
    "integrity_report" -> ((s, dir) => {
      def tb(n: String) = t(s, dir, n)
      Checks.fkIntegrity(Seq(
        ("lineitem.l_orderkey", tb("lineitem"), "l_orderkey",
          tb("orders"), "o_orderkey"),
        ("lineitem.l_partkey", tb("lineitem"), "l_partkey",
          tb("part"), "p_partkey"),
        ("lineitem.l_suppkey", tb("lineitem"), "l_suppkey",
          tb("supplier"), "s_suppkey"),
        ("orders.o_custkey", tb("orders"), "o_custkey",
          tb("customer"), "c_custkey"),
        ("customer.c_nationkey", tb("customer"), "c_nationkey",
          tb("nation"), "n_nationkey"),
        ("supplier.s_nationkey", tb("supplier"), "s_nationkey",
          tb("nation"), "n_nationkey"),
        ("nation.n_regionkey", tb("nation"), "n_regionkey",
          tb("region"), "r_regionkey")))
    }),

    // relational DIVISION (the ALL-quantifier): orders where EVERY
    // lineitem shipped by the cutoff, rolled up per priority in exact
    // floor-ppm — one per-order conditional agg, no anti-join cascade
    "q4_fill_rate" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("_n"),
          count(when(col("l_shipdate").cast("date") <=
            lit(q3Date).cast("date"), 1)).as("_ok"))
        .select(col("l_orderkey"),
          (col("_n") === col("_ok")).cast("long").as("_full"))
      t(s, dir, "orders")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("_full")).as("n_fully_shipped"),
          Sampling.intDivExact(
            sum(col("_full")).cast("decimal(38,0)") * lit(1000000L),
            count(lit(1))).as("fill_ppm"))
    }),

    // shipping-priority revenue (the classic 3-way join + top-k): per-row
    // revenue floors to exact integer µ BEFORE the decimal sum, so the
    // aggregation is order-free; AQE picks the filtered-dim broadcast
    "q3_shipping" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === q3Segment)
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < lit(q3Date).cast("date"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") > lit(q3Date).cast("date"))
      val revUs = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * lit(1000000d)).cast("decimal(38,0)")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          col("o_orderdate").cast("date").cast("string").as("o_date"),
          col("o_orderpriority"))
        .agg(sum(revUs).cast("long").as("revenue_us"))
        .orderBy(col("revenue_us").desc, col("l_orderkey"))
        .limit(10)
    }),

    // generic ingest profiler: per column null/distinct counts + native-
    // typed min/max, ONE aggregation over one scan, fan-out to rows after
    // (exact distincts = oracle mode; approx=true is the 100 TB default)
    "table_profile" -> ((s, dir) =>
      Profile.columnProfile(t(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),

    // EXACT order-statistic quantiles with NO sort anywhere: driver-side
    // bisection on the value domain, one conditional-count scan per
    // round, all open quantiles counted in the same scan — the 100 TB
    // path for contractual percentiles where approx_percentile won't do
    "orders_price_quantiles_exact" -> ((s, dir) =>
      Profile.exactQuantilesBisect(
        t(s, dir, "orders").select(
          floor(col("o_totalprice") * lit(1000000d)).cast("long")
            .as("price_us")),
        "price_us", Seq(500000L, 900000L, 990000L))),

    // grouped bisection: per-language exact length cuts, one scan per
    // round carrying a counter per open (group, quantile) pair
    "text_length_quantiles_bisect" -> ((s, dir) =>
      Profile.exactQuantilesBisectByGroup(
        t(s, dir, "documents").select(col("lang"), col("n_chars")),
        "lang", "n_chars", Seq(500000L, 900000L))),

    // per-source readability rollup: integer-µ Flesch-Kincaid grade
    // (vowel-run syllables, punctuation-run sentences floored at 1),
    // exact floor-mean — the "word salad" quality gate input
    "text_readability" -> ((s, dir) =>
      TextFunctions.readabilityByGroup(t(s, dir, "documents"),
        col("source"), col("text"))),

    // URL canonicalization + per-domain crawl caps: lowercase scheme/host,
    // strip default port / www. / fragment / tracking params, sort the
    // survivors, trim trailing slashes — then the per-host report counts
    // exact re-crawl twins (same canonical, different raw spelling) and
    // the overshoot past the per-domain cap
    "corpus_url_canonical" -> ((s, dir) => {
      val raw = concat(lit(urlP1), col("source"), lit(urlP2),
        (col("doc_id") % 7).cast("string"), lit(urlP3),
        (col("doc_id") % 30).cast("string"), lit(urlP4),
        col("doc_id").cast("string"), lit(urlP5),
        col("doc_id").cast("string"))
      Urls.domainReport(t(s, dir, "documents").select(raw.as("url")),
        "url", urlDomainCap)
    }),

    // host-level outlink graph: hrefs harvested from synthesized pages
    // (HrefRe), relative links dropped, targets canonicalized, one hash
    // aggregation to (src_host, dst_host) edges with raw link + distinct
    // canonical-target counts — the crawl-frontier / domain-PageRank input
    "corpus_link_graph" -> ((s, dir) => {
      def link(j: Int, tail: String) = concat(lit(linkA1),
        ((col("doc_id") + j) % 20).cast("string"), lit(linkA2),
        (col("doc_id") % 11).cast("string"), lit(tail))
      val html = concat(link(1, linkJ1), link(2, linkJ2), link(3, linkJ3))
      val links = t(s, dir, "documents")
        .select(concat(col("source"), lit(".example.com")).as("src_host"),
          explode(Html.outlinks(html)).as("url"))
      Urls.linkGraph(links, "src_host", "url")
    }),

    // robots politeness screen: parse per-host robots bodies (star-group
    // resolution via window math), screen the frontier with longest-
    // prefix-wins / allow-on-tie, report per-host allowed/blocked counts
    // + the effective crawl delay
    "corpus_robots_screen" -> ((s, dir) => {
      val (robots, frontier) = robotsInputs(s, dir)
      Robots.hostReport(
        Robots.screen(frontier, Robots.parseRules(robots, "host", "body"),
          "url"),
        Robots.crawlDelays(robots, "host", "body"))
    }),

    // the fetcher's kill list: every blocked frontier URL with the rule
    // prefix that blocked it
    "corpus_robots_blocked" -> ((s, dir) => {
      val (robots, frontier) = robotsInputs(s, dir)
      Robots.screen(frontier, Robots.parseRules(robots, "host", "body"),
          "url")
        .filter(!col("allowed"))
        .select(col("host"), col("url"), col("matched_prefix"))
    }),

    // group-independent Sitemap pointers (RFC 9309 §2.3 non-group
    // records) — the crawl seeder's input
    "corpus_sitemaps" -> ((s, dir) => {
      val (robots, _) = robotsInputs(s, dir)
      Robots.sitemaps(robots, "host", "body")
    }),

    // the politeness layer's output artifact: allowed URLs queued per
    // host with earliest start offsets respecting the crawl delay — the
    // window partitions BY HOST, so the plan scales with hosts
    "corpus_fetch_schedule" -> ((s, dir) => {
      val (robots, frontier) = robotsInputs(s, dir)
      Robots.fetchSchedule(
        Robots.screen(frontier, Robots.parseRules(robots, "host", "body"),
          "url"),
        Robots.crawlDelays(robots, "host", "body"))
    }),

    // WARC-style archive round trip: pages pack into multi-record archive
    // blobs (CRLF headers, byte-exact Content-Length) → the byte-offset
    // record walk parses them back → boilerplate-stripped extraction.
    // A length/separator bug corrupts every later record in a blob, so
    // the oracle (which rebuilds the expected output straight from
    // documents) catches container drift, not just string bugs
    "warc_main_text" -> ((s, dir) => {
      val html = concat(lit(htmlPre), col("doc_id").cast("string"),
        lit(htmlMid), col("text"), lit(htmlPost))
      val uri = concat(lit(warcU1), (col("doc_id") % 20).cast("string"),
        lit(warcU2), col("doc_id").cast("string"))
      val recs = t(s, dir, "documents").select(
        (col("doc_id") / lit(10)).cast("long").as("batch"),
        uri.as("uri"), html.as("html"))
      Warc.parse(Warc.pack(recs, "batch", "uri", "html")).toDF()
        .select(col("uri"),
          Html.title(col("html")).as("title"),
          length(Html.mainContent(col("html"), htmlMaxLinkPpm, htmlMinChars))
            .cast("long").as("main_chars"))
    }),

    // domain authority: the full crawl composition — href harvest →
    // canonicalize → host edges → 3-round integer fixed-point PageRank
    // (the domain-quality prior a crawl scheduler feeds back into
    // frontier ordering); the oracle rebuilds the host edge set
    // arithmetically and unrolls the same rounds
    "graph_domain_rank" -> ((s, dir) =>
      PageRank.run(domainEdges(s, dir), "src", "dst", iters = 3)
        .select(col("node").as("host"), col("rank_u12"))),

    // HITS hubs & authorities over the same host graph — the companion
    // centrality (directory pages vs content pages) in max-normalized
    // integer fixed point: each half-round is one join + one agg + one
    // 1-row max broadcast; the oracle unrolls the same 2 rounds
    "graph_hits" -> ((s, dir) =>
      PageRank.hits(domainEdges(s, dir), "src", "dst", iters = 2)
        .select(col("node").as("host"), col("hub_u12"), col("auth_u12"))),

    // common-neighbor link prediction on the undirected host graph:
    // wedge-join candidates under the per-node adjacency cap (cap binds
    // on this graph and is mirrored in the oracle; cn is a capped-
    // adjacency lower bound, only the Jaccard denominator is true
    // degree), total-order top-k
    "graph_link_predict" -> ((s, dir) =>
      Graphs.linkPredict(domainEdges(s, dir), "src", "dst",
        maxNeighbors = linkPredictCap, topK = 20)),

    // PERSONALIZED PageRank from seed domains over the same host graph:
    // teleport mass lands only on the seeds (one exact integer floor for
    // the per-seed share), rank = proximity to the trusted set — the
    // crawl-frontier prioritizer / TrustRank-style spam demoter
    "graph_ppr_seeds" -> ((s, dir) =>
      PageRank.runPersonalized(domainEdges(s, dir), "src", "dst",
          iters = 3, seeds = pprSeeds)
        .select(col("node").as("host"), col("rank_u12"))),

    // HTML boilerplate extraction: synthesized crawl pages (nav + link
    // farm + footer around the real text), main content kept by the
    // integer-ppm link-density × min-length block rule — all native
    // regexp/HOF expressions, no UDF; the oracle reruns the same
    // patterns under RE2
    "text_html_extract" -> ((s, dir) => {
      val html = concat(lit(htmlPre), col("doc_id").cast("string"),
        lit(htmlMid), col("text"), lit(htmlPost))
      t(s, dir, "documents")
        .select(col("doc_id"), html.as("_h"))
        .select(col("doc_id"),
          Html.title(col("_h")).as("title"),
          Html.mainContent(col("_h"), htmlMaxLinkPpm, htmlMinChars)
            .as("main_text"))
        .withColumn("main_chars", length(col("main_text")).cast("long"))
    }),

    // grouped exact percentiles: per-language length quartiles (the
    // calibrate machinery, stratified — approx_percentile at 100 TB)
    "corpus_length_quantiles" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          percentile(col("n_chars"), lit(0.25)).as("p25"),
          percentile(col("n_chars"), lit(0.5)).as("p50"),
          percentile(col("n_chars"), lit(0.75)).as("p75"),
          percentile(col("n_chars"), lit(0.9)).as("p90"))),

    // vector-norm health profile: exact Σv_us² per vector, log2-bucketed
    // — mis-scaled shards and zero vectors stand out immediately
    "embedding_norm_profile" -> ((s, dir) =>
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
          max(col("_n2")).cast("long").as("max_n2"))),

    // per-language source-concentration report: Simpson Σ(share)² and the
    // top source's share as exact floor-ppm — the "is this stratum one
    // takedown away from collapsing" mixture-design check
    "corpus_diversity" -> ((s, dir) =>
      Sampling.sourceConcentration(t(s, dir, "documents"), col("lang"),
        col("source")).orderBy(col("stratum"))),

    "corpus_by_source" -> ((s, dir) => {
      val feats = TextFunctions.qualityFeatures(col("text")).toMap
      t(s, dir, "documents")
        .select(col("source"), col("lang"),
          feats("alpha_ratio").cast("decimal(27,12)").as("_ar"),
          feats("n_tokens").as("_nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_nt")).as("n_tokens"),
          round(sum(col("_ar")).cast("double") / count(lit(1)), 6)
            .as("mean_alpha_ratio"),
          countDistinct(col("lang")).as("n_langs"))
    }),

    // ---- retrieval & LM scoring -----------------------------------------
    // BM25 keyword search: broadcast query set gates the token stream, df
    // re-aggregates the posting frame's own shuffle (ReusedExchange), the
    // per-(query, doc) sum is exact DECIMAL — ranking is total and
    // engine-independent
    "text_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((0L, "spark join"), (1L, "table scan fast"),
        (2L, "window batch agg")).toDF("qid", "qtext")
      Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
        qs, "qid", "qtext", k = 10)
    }),

    // the language-modeling scorer beside BM25 (Zhai–Lafferty Dirichlet
    // smoothing, µ=2000) over the SAME query set — the second standard
    // lexical ranking model a serving stack A/Bs; same broadcast-query /
    // vocabulary-gated-postings plan shape
    "text_ql_topk" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((0L, "spark join"), (1L, "table scan fast"),
        (2L, "window batch agg")).toDF("qid", "qtext")
      QueryLikelihood.topK(t(s, dir, "documents"), "doc_id", "text",
        qs, "qid", "qtext", k = 10)
    }),

    // rank-biased overlap between the BM25 and query-likelihood runs
    // (p=0.9, truncated at k=10) — the top-weighted ranker-agreement
    // measure that tells an index migration how much the two scorers
    // actually disagree where it matters (the head), in exact integers
    "text_rank_rbo" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((0L, "spark join"), (1L, "table scan fast"),
        (2L, "window batch agg")).toDF("qid", "qtext")
      val docs = tFan(s, dir, "documents")
      Fusion.rbo(
        Bm25.topK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10),
        QueryLikelihood.topK(docs, "doc_id", "text", qs, "qid", "qtext",
          k = 10),
        "query_id", "doc_id", "rank", k = 10)
    }),

    // exact two-sample KS over doc length between the two corpus
    // snapshots (stable md5 buckets <80 / >=80) — the binning-free drift
    // test beside PSI, division-free in BIGINT so both engines agree
    // bit-for-bit
    "drift_ks_doclen" -> ((s, dir) =>
      Profile.ksTwoSample(
        t(s, dir, "documents").select(col("n_chars").as("v"),
          (Sampling.stableBucket(col("doc_id")) < 80).as("is_a")),
        "v", "is_a")),

    // NDCG@10 / MRR / P@10 evaluation of the BM25 run against synthetic
    // graded judgments rel = (doc_id·7 + qid) mod 4 — the offline
    // ranking-eval harness (RankEval): discount ladder as µ literals,
    // gains as shifts, NDCG/MRR as exact floor-division ppm
    "text_ndcg_eval" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((0L, "spark join"), (1L, "table scan fast"),
        (2L, "window batch agg")).toDF("qid", "qtext")
      val ranked = Bm25.topK(t(s, dir, "documents"), "doc_id", "text", // fan A/B: 0.61x fanned
        qs, "qid", "qtext", k = 10)
      val rels = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < ndcgPoolMax)
        .crossJoin(broadcast(qs.select(col("qid").as("query_id"))))
        .select(col("query_id"), col("doc_id"),
          pmod(col("doc_id") * 7 + col("query_id"), lit(4L)).as("rel"))
      RankEval.metrics(ranked, "query_id", "rank", "doc_id",
        rels, "rel", k = 10)
    }),

    // conjunctive boolean retrieval: intersect-via-count — one posting
    // join against the broadcast term list, hit count == term count
    "text_boolean_search" -> ((s, dir) => {
      import s.implicits._
      Postings.booleanAnd(t(s, dir, "documents"), "doc_id", "text",
        boolQueryLits.toDF("qid", "qtext"), "qid", "qtext")
    }),

    // exact phrase search over positional postings: anchor = pos − offset,
    // a phrase occurrence is an anchor holding all k distinct offsets
    // (repeated phrase terms included) — no per-term self-join chain
    "text_phrase_search" -> ((s, dir) => {
      import s.implicits._
      Postings.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
        phraseQueryLits.toDF("qid", "qtext"), "qid", "qtext")
    }),

    // contrastive negatives: stable-hash draw of 5 cross-source negatives
    // per anchor (broadcast anchors over one corpus scan, salted top-k)
    "corpus_negatives" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.contrastiveNegatives(
        docs.filter(col("doc_id") < negAnchorMax), "doc_id", "source",
        docs, "doc_id", "source", k = 5)
    }),

    // positional index build: gap-encoded postings for the serving-worthy
    // df band — one (term, doc) shuffle, df re-aggregates the postings
    // frame (ReusedExchange), deltas via zip_with against the 1-shifted
    // self (HOF-argument rule)
    "text_postings" -> ((s, dir) =>
      Postings.positional(t(s, dir, "documents"), "doc_id", "text",
        minDf = 10, maxDf = 50)),

    // index-build cost model: per-term doc-gap Elias-γ bit cost
    // (2·⌊log₂ gap⌋ + 1 via the integer len(bin()) ladder — no float log)
    // for the 50 highest-df terms; the size budget a 100 TB posting build
    // reads before choosing compression. First gap is doc_id + 1 (distance
    // from the -1 sentinel), so a term's cost is defined from one posting
    "text_posting_costs" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("term").orderBy("doc_id")
      tFan(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("term"),
          col("doc_id"))
        .distinct()
        .withColumn("gap", col("doc_id") - lag(col("doc_id"), 1, -1).over(w))
        .withColumn("bits", lit(2) * length(bin(col("gap"))) - lit(1))
        .groupBy("term")
        .agg(count(lit(1)).cast("long").as("df"),
          sum("bits").cast("long").as("gamma_bits"))
        .withColumn("bytes_est", expr("(gamma_bits + 7) div 8"))
        .orderBy(col("df").desc, col("term")).limit(50)
    }),

    // CCNet-style LM quality signal: add-one bigram cross-entropy of each
    // doc under the corpus-trained model (the model is two count
    // DataFrames — never collected)
    "text_perplexity" -> ((s, dir) =>
      LangModel.selfCrossEntropy(t(s, dir, "documents"), "doc_id", "text")),

    // CCNet head/middle/tail: exact tercile thresholds of the self-LM
    // cross-entropy, derived from the corpus itself — the standard
    // perplexity quality gate
    "corpus_ppl_buckets" -> ((s, dir) =>
      LangModel.perplexityBuckets(tFan(s, dir, "documents"), "doc_id", "text")),

    // DoReMi-style mixture reweighting: one exponentiated-gradient step
    // from uniform — sources the corpus LM finds hard get up-weighted
    "corpus_doremi_weights" -> ((s, dir) =>
      LangModel.doremiSourceWeights(tFan(s, dir, "documents"), "doc_id",
        "text", "source")),

    // vocabulary-coverage curve at fixed candidate sizes: each k is one
    // TakeOrdered top-k over the count frame (never a global rank window
    // over the vocabulary), mass ratios in exact floor-ppm
    "vocab_coverage" -> ((s, dir) =>
      Vocab.coverage(t(s, dir, "documents"), "text", vocabCoverageKs)),

    // Unicode normalization screen (UAX #15 via the codegen'd
    // graft_normalize expression): composed vs decomposed variants of
    // the same per-doc payload are raw-UNEQUAL and must become
    // NFC-EQUAL, with the decomposed side losing exactly its combining
    // marks in codepoint length — the text-canonicalization pass a
    // multilingual corpus runs before hashing/dedup. Fixtures are
    // synthesized from doc_id (the shared-constants robots pattern) so
    // the oracle rebuilds the identical inputs with chr() literals
    "corpus_nfc_normalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def payload(variant: Column) = concat(lit("doc"),
        col("doc_id").cast("string"), lit(" "), variant)
      // e+U+0301, A+U+030A, o+U+0301 — each composes under NFC
      val d = payload(lit("café Å róle"))
      val p = payload(lit("café Å róle"))
      def nfc(c: Column) = TextFunctions.normalizeUnicode(c)
      docs.select(d.as("d"), p.as("p"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("d") === col("p"), 1)).as("n_raw_equal"),
          count(when(nfc(col("d")) === nfc(col("p")), 1)).as("n_nfc_equal"),
          sum(length(col("d"))).as("len_raw"),
          sum(length(nfc(col("d")))).as("len_nfc"))
    }),

    // Flesch READING-EASE profile per source (206.835 −
    // 1.015·words/sentence − 84.6·syllables/word — the ease companion
    // of text_readability's Flesch-Kincaid GRADE; same vowel-run
    // syllable proxy, opposite direction: higher = easier). Everything
    // in exact integer µ units (per-doc floor ratios, then
    // floor-averaged per source — order-free), one scan + one aggregate
    "text_reading_ease" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = TextFunctions.tokenCount(col("text")).cast("long")
      val sents = greatest(regexp_count(col("text"), lit("[.!?]+")),
        lit(1)).cast("long")
      val syl = greatest(regexp_count(lower(col("text")), lit("[aeiou]+")),
        lit(1)).cast("long")
      val perDoc = docs
        .select(col("source"), w.as("_w"), sents.as("_s"), syl.as("_y"))
        .filter(col("_w") > 0)
        .select(col("source"),
          Sampling.intDivExact(col("_w") * lit(1000000L), col("_s"))
            .as("_a"),
          Sampling.intDivExact(col("_y") * lit(1000000L), col("_w"))
            .as("_b"))
        .withColumn("_f", lit(206835000L) -
          Sampling.intDivExact(lit(1015L) * col("_a"), lit(1000L)) -
          Sampling.intDivExact(lit(846L) * col("_b"), lit(10L)))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          Sampling.intDivExact(sum(col("_a")), count(lit(1)))
            .as("avg_wps_us"),
          Sampling.intDivExact(sum(col("_b")), count(lit(1)))
            .as("avg_spw_us"),
          Sampling.intDivExact(sum(col("_f")), count(lit(1)))
            .as("avg_flesch_u"))
    }),

    // PII/entity inventory: independent per-pattern totals (the audit
    // before scheduling redaction; patterns are the shared RE2 constants)
    "text_entity_counts" -> ((s, dir) =>
      TextFunctions.entityCounts(t(s, dir, "documents"), "text")),

    // join-skew forecast: keys ranked by expected output fanout BEFORE
    // the join runs — the straggler-reducer early warning
    "skew_join_forecast" -> ((s, dir) => {
      val ev = events(s, dir)
      Skew.joinForecast(
        ev.filter(col("event_type") === "click"), col("user_id"),
        ev.filter(col("event_type") === "purchase"), col("user_id"),
        topK = joinForecastK)
    }),

    // latest-wins upsert (the MERGE INTO shape): one max(struct) hash
    // aggregate per key, no per-key sort window
    "dim_upsert" -> ((s, dir) => {
      val base = t(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * lit(1000000d)).as("price_us"),
        lit(0).as("version"))
      val updates = base
        .filter(pmod(col("o_orderkey"), lit(upsertMod)) === 0)
        .select(col("o_orderkey"), (col("price_us") * 2).as("price_us"),
          lit(1).as("version"))
      Scd.upsertLatest(base, updates, Seq("o_orderkey"), "version")
    }),

    // classic running-total window: cumulative customer value in
    // (date, orderkey) total order; per-row µ floor keeps prefix sums
    // exact integers
    "w8_running_total" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          floor(col("o_totalprice") * lit(1000000d)).cast("decimal(38,0)")
            .as("_p"))
        .withColumn("cum_value_us", sum(col("_p")).over(w).cast("long"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").cast("string").as("o_date"),
          col("cum_value_us"))
    }),

    // MERGE INTO / SCD-1 upsert as a snapshot rewrite: the 2001 order
    // activity updates each customer's balance and stamps a last_status
    // (null-in-update = no change); synthetic onboarding rows exercise
    // the insert leg; untouched customers carry forward. One full-outer
    // join — the MERGE shape that scales without a table format
    "j8_merge_upsert" -> ((s, dir) => {
      val target = t(s, dir, "customer").select(col("c_custkey"),
        col("c_name"),
        floor(col("c_acctbal") * lit(1000000d)).cast("long").as("acctbal_us"),
        col("c_mktsegment"))
      val changed = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >=
          lit("2001-01-01").cast("date"))
        .groupBy(col("o_custkey"))
        .agg(max_by(col("o_orderstatus"), col("o_orderkey")).as("last_status"),
          sum(floor(col("o_totalprice") * lit(1000000d))
            .cast("decimal(38,0)")).cast("long").as("acctbal_us"))
      // insert-leg keys live in the NEGATIVE key space: custkeys are
      // positive at every SF, so -o_custkey can never collide with a
      // real key or duplicate across the union (an additive offset
      // would collide once custkeys exceed it — scale-safety rule)
      val updates = changed.select(col("o_custkey").as("c_custkey"),
          col("last_status"), col("acctbal_us"))
        .unionByName(changed.select(
          (-col("o_custkey")).as("c_custkey"),
          col("last_status"), lit(0L).as("acctbal_us")))
      Merge.upsert(target, updates, "c_custkey")
    }),

    // SCD type-2 from a change feed: collapse each user's event stream
    // into validity intervals per run of equal event_type (island
    // detection via lag + running change count), valid_to = the next
    // run's start (NULL = current). Both windows ride ONE user-keyed
    // shuffle; (ts, event_id) order makes equal-timestamp runs
    // deterministic. The warehouse dimension-versioning pattern.
    "w9_scd2_intervals" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val wRow = W.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val wGrp = W.partitionBy(col("user_id")).orderBy(col("_grp"))
      events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .withColumn("_chg",
          when(lag(col("event_type"), 1).over(wRow).isNull ||
            lag(col("event_type"), 1).over(wRow) =!= col("event_type"), 1)
            .otherwise(0))
        .withColumn("_grp", sum(col("_chg")).over(wRow))
        .groupBy(col("user_id"), col("_grp"), col("event_type"))
        .agg(min(col("ts_us")).as("valid_from_us"),
          count(lit(1)).as("n_events"))
        .withColumn("valid_to_us",
          lead(col("valid_from_us"), 1).over(wGrp))
        .select(col("user_id"), col("event_type"), col("valid_from_us"),
          col("valid_to_us"), col("n_events"))
    }),

    // day-over-day event-volume delta: lag over the DAYS frame (calendar-
    // bounded, not data-bounded — the one safe global-window case)
    "events_daily_delta" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      daily
        .withColumn("delta",
          coalesce(col("n_events") - lag(col("n_events"), 1).over(w),
            lit(0L)))
    }),

    // per-user inter-arrival BURSTINESS histogram: CV² of event gaps in
    // exact floor-ppm ((nΣx²−Σ²) over Σ², all DECIMAL), log₂-bucketed —
    // low CV² ≈ metronomic (bots/schedulers), high ≈ bursty humans; the
    // gap multiset is order-stable under equal timestamps, so the report
    // is engine-exact. One window + two bounded aggregates.
    "events_burstiness" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("_us"), col("event_id"))
      val gaps = events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("_us"))
        .withColumn("gap", col("_us") - lag(col("_us"), 1).over(w))
        .filter(col("gap").isNotNull)
      val dec = col("gap").cast("decimal(38,0)")
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(dec).as("sx"),
          sum(dec * col("gap")).as("sxx"))
        .filter(col("n") >= 2 && col("sx") > 0)
        .select(Sampling.intDivExact(
          (col("n") * col("sxx") - col("sx") * col("sx")) * lit(1000000L),
          col("sx") * col("sx")).as("cv2_ppm"))
        .groupBy(length(bin(col("cv2_ppm"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_users"),
          min(col("cv2_ppm")).as("min_cv2_ppm"),
          max(col("cv2_ppm")).as("max_cv2_ppm"))
    }),

    // robust anomaly detection on daily counts: median/MAD (exact
    // order statistics via the grouped bisection op — a single outage
    // day can't drag a mean/σ gate the way it would spikeFlags' z-test),
    // flag |x − med| > 3·MAD; counts frame sealed once so the bisect
    // rounds never rescan raw events
    "events_robust_anomaly" -> ((s, dir) => {
      val cnts = events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n_events"))
        .transform(graft.functions.Frames.truncate)
      val med = Profile.exactQuantilesBisectByGroup(
          cnts, "event_type", "n_events", Seq(500000L))
        .select(col("event_type"), col("value").as("med"))
      val dev = cnts.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("n_events") - col("med")))
        .transform(graft.functions.Frames.truncate)
      val mad = Profile.exactQuantilesBisectByGroup(
          dev, "event_type", "adev", Seq(500000L))
        .select(col("event_type"), col("value").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .select(col("event_type"), col("day"), col("n_events"),
          col("med"), col("mad"),
          // adev IS the deviation the MAD was bisected over — one
          // definition, no second copy to drift
          (col("adev") > lit(3L) * col("mad"))
            .cast("long").as("is_anomaly"))
    }),

    // session-shape histogram: sessions bucketed by log2 event count,
    // with exact integer duration stats per bucket — the engagement-
    // distribution readout on top of the shared sessionizer
    "events_session_hist" -> ((s, dir) => {
      val sess = EventStream.sessionize(
        events(s, dir).withColumn("value",
          col("value").cast(DecimalType(18, 6))), gapMinutes = 30)
      sess
        .select(col("n_events"),
          (unix_micros(col("session_end")) -
            unix_micros(col("session_start"))).as("_dur"))
        .groupBy(length(bin(col("n_events"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          min(col("n_events")).as("min_events"),
          max(col("n_events")).as("max_events"),
          Sampling.intDivExact(
            sum(col("_dur").cast("decimal(38,0)")),
            count(lit(1))).as("mean_duration_us"))
    }),

    // supplier-concentration per part: the SAME Simpson operator as
    // corpus_diversity pointed at the supply chain — single-supplier
    // parts are the takedown-risk analogue
    "parts_supplier_diversity" -> ((s, dir) =>
      Sampling.sourceConcentration(t(s, dir, "lineitem"),
        col("l_partkey"), col("l_suppkey"))
        .orderBy(col("simpson_ppm").desc, col("stratum")).limit(50)),

    // seasonal-naive forecast backtest: predict day t's volume with day
    // t-7 (and t-1 as the naive floor); exact integer MAE in µ per type —
    // the "is there weekly seasonality worth modeling" answer
    "events_forecast_naive" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      def lagJoin(offset: Int, name: String) = daily
        .join(daily.select(col("event_type"),
          date_add(col("day"), offset).as("day"), col("c").as("_p")),
          Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as(s"n_$name"),
          Sampling.intDivExact(
            sum(abs(col("c") - col("_p")).cast("decimal(38,0)"))
              * lit(1000000L),
            count(lit(1))).as(s"mae${name}_us"))
      lagJoin(7, "w").join(lagJoin(1, "d"), Seq("event_type"))
    }),

    // DAU / trailing-7-day WAU / floor-ppm stickiness per active day —
    // the trailing week via a 7-way day fan-out + distinct, never a
    // distinct-over-range window
    "events_stickiness" -> ((s, dir) =>
      EventAnalytics.stickiness(events(s, dir), "user_id",
        date_trunc("day", col("ts")).cast("date"))),

    // content blocklist screen: violating docs with hit counts and the
    // sorted matched terms (list rides as a codegen'd array literal)
    "corpus_blocklist" -> ((s, dir) => driverSafe(
      TextFunctions.blocklistScreen(t(s, dir, "documents"), "doc_id",
        "text", blocklistTerms))),

    // per-language top character trigrams (the classic langid feature):
    // overlapping trigrams via zip_with over shifted char arrays (HOF
    // ARGUMENTS — evaluated once per row, the repo's anti-reevaluation
    // rule), then partial top-k per language
    "text_char_trigrams" -> ((s, dir) => {
      val chars = split(col("_t"), "")
      val t2 = zip_with(chars,
        slice(chars, lit(2), greatest(size(chars) - 1, lit(0))),
        (a, b) => concat(a, b))
      val t3 = zip_with(t2,
        slice(chars, lit(3), greatest(size(chars) - 2, lit(0))),
        (a, b) => concat(a, b))
      val tri = tFan(s, dir, "documents")
        .select(col("lang"), lower(col("text")).as("_t"))
        .select(col("lang"),
          explode(filter(t3, x => x.isNotNull && length(x) === 3))
            .as("tri"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n").desc, col("tri"))
      tri.groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= trigramTopK)
    }),

    // top-3 next-token suggestions per context from the bigram table —
    // WindowGroupLimit partial top-k, (count desc, token) total order
    "vocab_bigram_suggest" -> ((s, dir) =>
      Vocab.bigramSuggest(t(s, dir, "documents"), "text",
        topK = bigramSuggestK)),

    // full-outer reconciliation: CRM active accounts vs the order ledger
    // (both-only populations are real on this data) — one outer hash
    // join + one conditional-count aggregate
    "j8_outer_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_acctbal") >= 0)
        .select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_custkey")).distinct()
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .agg(
          count(when(col("c_custkey").isNotNull &&
            col("o_custkey").isNotNull, 1)).as("n_matched"),
          count(when(col("o_custkey").isNull, 1)).as("n_customer_only"),
          count(when(col("c_custkey").isNull, 1)).as("n_order_only"))
    }),

    // per-hour top event types: rank ≤ 3 over a by-hour window plans as
    // WindowGroupLimit (partial top-k before the shuffle)
    "events_top_types" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("hour"))
        .orderBy(col("n_events").desc, col("event_type"))
      hourly.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topTypesK)
    }),

    // Stupid Backoff held-out scoring (Brants et al. EMNLP'07): model from
    // the 80% train split, scores for the rest — the backoff leg really
    // fires on unseen bigrams
    "text_backoff_heldout" -> ((s, dir) => {
      val docs = t(s, dir, "documents") // fan A/B: 0.63x fanned
      val train = docs
        .filter(Sampling.stableBucket(col("doc_id")) < 80)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      LangModel.backoffCrossEntropy(
        docs.filter(Sampling.stableBucket(col("doc_id")) >= 80),
        "doc_id", "text", LangModel.trainBigram(train, "toks"))
    }),

    // winnowing fingerprints (Schleimer et al. SIGMOD'03, the MOSS
    // algorithm): min-hash of each 4-window over word-3-gram hashes —
    // Md5Hasher oracle mode, xxhash64 prod default
    "text_winnow" -> ((s, dir) => driverSafe(
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
        n = 3, window = 4, hasher = Dedup.Md5Hasher))),

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
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDupReport(t(s, dir, "embeddings"), "vec_id",
        "embedding", numCells = 8, threshold = 0.4, iters = 0,
        maxCell = 1000)),

    // corpus composition by embedding cluster: per-cell population,
    // cohesion (mean cosine to centroid, DECIMAL-summed) and label purity
    // — the pre-mixture analysis pass. Anchor mode (iters=0 ≡ 8 lowest-id
    // seed vectors) so the oracle recomputes the assignment; trained mode
    // is pinned by DedupSimilaritySpec
    "corpus_cluster" -> ((s, dir) =>
      Similarity.clusterProfile(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", numCells = 8, iters = 0)),

    // token-BUDGET mixture: keep-rates derived from per-language token
    // volume to hit a 10k-token corpus at en 50% / zh 20% / others 10% —
    // all integer arithmetic (ppm granularity, so a stratum whose volume
    // dwarfs its target still gets a nonzero rate), recomputed by the oracle
    "corpus_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      Sampling.tokenBudgetMixture(docs, col("doc_id"), col("lang"),
        col("n_tok"), budgetTokens = 10000L,
        sharePctByStratum = Map("en" -> 50, "zh" -> 20), defaultSharePct = 10)
        .select(col("doc_id"), col("lang"), col("rate_ppm"))
    }),

    // temperature-scaled source mixing (mT5/XLM-R, α=0.5): per-source
    // shares ∝ √(token volume) — the standard low-resource upweighting —
    // quantized to integer micro-units so every downstream division is
    // exact; rates sized to a 50k-token budget
    "corpus_temperature" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      Sampling.temperatureMix(docs, col("source"), col("n_tok"),
        budgetTokens = tempBudgetTokens)
    }),

    // DSIR importance weights (Xie et al. NeurIPS'23): hashed unigram+
    // bigram bucket distributions fitted on a curated target (source =
    // 'src0' stands in for the reference corpus) vs the raw rest; every
    // raw doc scored by its summed log likelihood ratio. The fitted model
    // is two ≤4096-row count frames that BROADCAST onto the score join —
    // the exploded n-gram stream itself never shuffles
    "corpus_dsir" -> ((s, dir) =>
      Dsir.importanceWeights(
        dsirFeats(s, dir).filter(col("source") =!= "src0"), "doc_id", "feats",
        dsirFeats(s, dir).filter(col("source") === "src0"), "feats",
        buckets = 4096)),

    // Gumbel top-k resample over those weights — sampling without
    // replacement ∝ w (Vieira'14) as a pure function of (id, weight), so
    // the selected training subset is re-derivable by any engine (the
    // auditable-lineage property random sampling lacks)
    "corpus_dsir_select" -> ((s, dir) =>
      Dsir.gumbelTopK(
        Dsir.importanceWeights(
          dsirFeats(s, dir).filter(col("source") =!= "src0"), "doc_id", "feats",
          dsirFeats(s, dir).filter(col("source") === "src0"), "feats",
          buckets = 4096),
        "doc_id", "log_weight", k = 100)),

    // ---- multimodal plumbing --------------------------------------------
    "media_meta" -> ((s, dir) =>
      Multimodal.syntheticMedia(t(s, dir, "documents")).drop("payload")),

    // real container decode (BMP/WAV/RAWV header + pixel/sample walk); the
    // oracle recomputes width/height/duration/mean from the generator
    // constants, so a decoder bug (padding, endianness, bottom-up rows)
    // breaks the hash
    "media_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.syntheticMedia(t(s, dir, "documents"))).toDF()
        .select(col("media_id"), col("modality"), col("n_bytes"),
          col("width"), col("height"), col("duration_ms"),
          round(col("mean_val"), 6).as("mean_val"))),

    // IMAGE near-dup via the 60-bit blockhash perceptual fingerprint:
    // engine decodes real BMP bytes → blockhash → simhash 16-bit band
    // join (pigeonhole-exact at hamming ≤ 3); the oracle recomputes the
    // hash from the generator's pixel formula and brute-forces pairs, so
    // a decode bug OR a banding recall gap breaks the hash match
    "media_phash_dedup" -> ((s, dir) =>
      Dedup.simhashPairs(
        Multimodal.imageBlockhash(
          Multimodal.syntheticMedia(t(s, dir, "documents"))),
        "media_id", "phash", hammingMax = 3, maxBucket = mediaBandCap)
        .withColumn("hamming", col("hamming").cast("long"))),

    // audio dead-air / clipping screen from the real WAV decode; exact
    // integer ppm — oracle recomputes from the generator's sample formula
    "media_audio_quality" -> ((s, dir) =>
      Multimodal.audioQuality(
        Multimodal.syntheticMedia(t(s, dir, "documents")))),

    // voice-activity segments from the real PCM decode: per-frame mean
    // |s| energies (codec emits frame rows; everything after is plain
    // DataFrame work), threshold, then gaps-and-islands — the
    // speech-span extractor that feeds ASR training crops
    "media_audio_segments" -> ((s, dir) => {
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
    }),

    // scene cuts from the real RAWV frame decode: mean abs per-byte diff
    // per consecutive frame pair in exact milli-units + the cut flag
    "media_scene_changes" -> ((s, dir) =>
      Multimodal.sceneChanges(
        Multimodal.syntheticMedia(t(s, dir, "documents")))),

    // AUDIO near-dup via the 60-bit energy-envelope fingerprint: real WAV
    // decode → per-window |PCM| share sign hash → the same simhash band
    // join as the image path; oracle recomputes the hash from the
    // generator's sample formula and brute-forces pairs
    "media_audio_dedup" -> ((s, dir) =>
      Dedup.simhashPairs(
        Multimodal.audioFingerprint(
          Multimodal.syntheticMedia(t(s, dir, "documents"))),
        "media_id", "ahash", hammingMax = 3, maxBucket = mediaBandCap)
        .withColumn("hamming", col("hamming").cast("long"))),

    // VIDEO near-dup: per-frame 60-segment blockhash, clip signature =
    // majority vote across frames (trim-robust), banded pair join; the
    // oracle rebuilds every frame hash and the vote from the generator's
    // byte formula and brute-forces pairs
    "media_video_dedup" -> ((s, dir) =>
      Dedup.simhashPairs(
        Multimodal.videoFingerprint(
          Multimodal.syntheticMedia(t(s, dir, "documents"))),
        "media_id", "vhash", hammingMax = 3, maxBucket = mediaBandCap)
        .withColumn("hamming", col("hamming").cast("long"))),

    // ---- events: windowed agg, sessionization, streaming ----------------
    "events_window" -> ((s, dir) => driverSafe(
      EventStream.windowedAgg(
        events(s, dir)
          .withColumn("value", col("value").cast(DecimalType(18, 6))),
        "1 hour", exactDistinct = true))),

    "events_sessionize" -> ((s, dir) => driverSafe(
      EventStream.sessionize(
        events(s, dir)
          .withColumn("value", col("value").cast(DecimalType(18, 6))),
        gapMinutes = 30))),

    // ---- batch product analytics: funnel / retention / resample ---------
    // strictly-ordered signup → click → purchase funnel: one conditional
    // aggregation per stage + users-sized joins, never an event self-join
    "events_funnel" -> ((s, dir) =>
      EventAnalytics.funnel(events(s, dir), "user_id",
        unix_micros(col("ts")),
        col("event_type") === "signup",
        col("event_type") === "click",
        col("event_type") === "purchase")),

    // daily cohort retention counts (first-seen day × day offset)
    "events_retention" -> ((s, dir) =>
      EventAnalytics.retention(events(s, dir), "user_id",
        unix_micros(col("ts")), bucketUs = 86400000000L)),

    // day-of-week seasonal profile (epoch-day mod 7 index): per-weekday
    // event share and value index vs the all-days mean, every ratio an
    // exact integer over the DECIMAL sums — the seasonality-correction
    // input for the anomaly/forecast queries
    "events_seasonality" -> ((s, dir) => {
      val ev = events(s, dir).select(
        pmod(Sampling.intDivExact(unix_micros(col("ts")), lit(dayUs)),
          lit(7L)).as("weekday"),
        floor(col("value") * 1000000).cast("long").as("val_us"))
      val wd = ev.groupBy(col("weekday"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("val_us").cast(DecimalType(38, 0))).as("_sum"))
      val tot = wd.agg(sum(col("n_events")).as("_n_all"),
        sum(col("_sum")).as("_sum_all"))
      wd.crossJoin(broadcast(tot))
        .select(col("weekday"), col("n_events"),
          col("_sum").cast("long").as("value_sum_us"),
          Sampling.intDivExact(col("n_events") * lit(1000000L),
            col("_n_all")).as("share_ppm"),
          Sampling.intDivExact(
            col("_sum") * col("_n_all").cast(DecimalType(38, 0)) *
              lit(1000000L),
            col("n_events").cast(DecimalType(38, 0)) * col("_sum_all"))
            .as("value_index_ppm"))
    }),

    // per-event ML feature extraction: trailing RANGE-frame windows over
    // each user's own timeline (7d/30d behavior counts, µ-exact spend)
    // plus the purchase-in-next-24h label window — the churn/propensity
    // training-frame builder; frames are VALUE ranges so duplicate
    // timestamps resolve identically in both engines
    "events_user_features" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type"),
        floor(col("value") * 1000000).cast("long").as("val_us"))
      def uw(lo: Long, hi: Long) = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us")).rangeBetween(lo, hi)
      val w7 = uw(-7L * dayUs, -1L)
      val w30 = uw(-30L * dayUs, -1L)
      val wNext = uw(1L, dayUs)
      ev.select(col("event_id"), col("user_id"), col("t_us"),
        count(lit(1)).over(w7).as("n_events_7d"),
        coalesce(sum(when(col("event_type") === "click", 1L)
          .otherwise(0L)).over(w7), lit(0L)).as("clicks_7d"),
        coalesce(sum(col("val_us")).over(w30), lit(0L)).as("value_30d_us"),
        coalesce(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).over(wNext), lit(0L)).as("purchases_next_24h"))
    }),

    // cohort lifetime-value matrix: signup week × age week → active
    // users + µ-exact revenue + running LTV (window over the bounded
    // cohort×age frame, never over raw events)
    "events_cohort_ltv" -> ((s, dir) => {
      val wk = lit(cohortWeekUs)
      val ev = events(s, dir).select(col("user_id"),
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")), wk))
          .as("wk_us"),
        floor(col("value") * 1000000).cast("long").as("val_us"))
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(col("wk_us")).as("cohort_us"))
      val cell = ev.join(cohort, "user_id")
        .select(col("cohort_us"),
          Sampling.intDivExact(col("wk_us") - col("cohort_us"), wk)
            .as("age_wk"),
          col("user_id"), col("val_us"))
        .groupBy(col("cohort_us"), col("age_wk"))
        .agg(countDistinct(col("user_id")).as("n_active"),
          sum(col("val_us").cast(DecimalType(38, 0))).as("_rev"))
      cell.select(col("cohort_us"), col("age_wk"), col("n_active"),
        col("_rev").cast("long").as("rev_us"),
        sum(col("_rev")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("cohort_us")).orderBy(col("age_wk")))
          .cast("long").as("cum_rev_us"))
    }),

    // crosstab via groupBy().pivot() with EXPLICIT pivot values (no
    // pre-scan job; plans as one partial-aggregated shuffle)
    "events_pivot" -> ((s, dir) =>
      events(s, dir)
        .select((unix_micros(col("ts")) - pmod(unix_micros(col("ts")),
          lit(3600000000L))).as("hour_us"), col("event_type"))
        .groupBy("hour_us")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(col("hour_us"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("error"), lit(0L)).as("error"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("signup"), lit(0L)).as("signup"),
          coalesce(col("view"), lit(0L)).as("view"))),

    // A9 beyond-parity: ROLLUP with grouping markers — subtotal frames
    // in ONE aggregation pass (Expand + partial agg), not one query per
    // level; exact decimal sum for order-independence
    "a9_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("sum_qty"),
          grouping_id(col("l_returnflag"), col("l_linestatus")).as("gid"))
        .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
          col("sum_qty").cast("double").as("sum_qty"), col("gid"))),

    // trailing-24h spike detection per event type with the INTEGER-EXACT
    // z-test ((n·x−Σ)² > z²(nΣx²−Σ²)) — no fp mean/stddev anywhere
    "events_anomaly" -> ((s, dir) =>
      EventAnalytics.spikeFlags(events(s, dir), "event_type",
        unix_micros(col("ts")), bucketUs = 3600000000L,
        lookback = 24, z = 3, minBase = 12)),

    // gap-filled hourly resample with zero-fill + forward-filled mean;
    // the hour spine generates per user from (min, max) — no driver calendar
    "events_resample" -> ((s, dir) => driverSafe(
      EventAnalytics.resampleHourly(events(s, dir), "user_id",
        unix_micros(col("ts")), col("value")))),

    // a REAL streaming drain (file source → watermark → update-mode memory
    // sink), then the final emission per window is hash-compared against
    // the batch SQL — a streaming/batch consistency oracle. n_users (HLL)
    // is excluded from the checked projection: the sketch estimate is
    // engine-specific; counts and the exact decimal sum are not
    "events_stream_hourly" -> ((s, dir) =>
      EventStream.runStreaming(s, dir, "events.parquet",
          t(s, dir, "events").schema, "1 hour", "2 hours")
        .select(col("window_start"), col("event_type"), col("n_events"),
          col("sum_value").cast("double").as("sum_value"))),

    // stateful-session drain: final per-user counts must equal the batch
    // sessionization aggregated per user (single-batch drain ⇒ the
    // incremental state walk sees events in ts order)
    "events_stream_sessions" -> ((s, dir) =>
      EventStream.runStatefulSessions(s, dir, "events.parquet",
        t(s, dir, "events").schema, gapMinutes = 30)),

    // streaming ingest dedup by event id within the watermark horizon;
    // event ids are unique in this corpus, so the deduped stream must
    // reproduce the input EXACTLY — a checkable pass-through oracle
    "events_stream_dedup" -> ((s, dir) =>
      EventStream.runStreamingDedup(s, dir, "events.parquet",
          t(s, dir, "events").schema, "2 hours", Seq("event_id"))
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))),

    // semi-structured props profiling: the reference's `_props` JSON
    // pattern (S3) applied to the event stream — native JsonToStructs
    // (codegen'd, no UDF) feeding one hash aggregate
    // string-path extraction + cast (get_json_object ≡ DuckDB
    // json_extract_string): a string-valued "5" parses to 5 on BOTH
    // sides — from_json('k BIGINT') would null it in Spark only.
    // Residual divergence: MALFORMED props null here but error in DuckDB
    // (the harness generator only emits well-formed JSON)
    "events_props_profile" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          sum(col("k")).as("sum_k"))),

    // stream-stream interval join: click → purchase attribution within a
    // 2 h window; watermarks + the time-bound condition keep state finite,
    // append mode ⇒ exactly the batch interval join (the oracle)
    "events_stream_attrib" -> ((s, dir) =>
      EventStream.runStreamingIntervalJoin(s, dir, "events.parquet",
          t(s, dir, "events").schema, "click", "purchase",
          withinMinutes = 120, watermark = "4 hours")
        .select(col("from_id"), col("to_id"), col("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          unix_micros(col("to_ts")).as("to_us"))),

    // stream-static enrichment: each micro-batch broadcast-joins the
    // customer dimension (left join — events with no dim row still flow);
    // append mode ⇒ exactly the batch join, row for row
    "events_stream_enrich" -> ((s, dir) => {
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      EventStream.runStreamingEnrich(s, dir, "events.parquet",
          t(s, dir, "events").schema, dim, Seq("user_id"))
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"),
          col("c_mktsegment"))
    }),

    // streaming ingest dedup screen: corpus_ingest's exact+LSH existence
    // probes applied ON ARRIVAL — new docs (stable bucket ≥ 80) stream
    // against the persisted old-corpus index; same output, same oracle
    // (the batch-twin streaming-oracle pattern); flag aggregation is the
    // only state and flags are monotone, so redelivery is idempotent
    "events_stream_ingest_screen" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = Sampling.stableBucket(col("doc_id"))
      EventStream.runStreamingIngestScreen(s, dir, "documents.parquet",
        t(s, dir, "documents").schema, docs.filter(bucket < 80),
        bucket >= 80, "doc_id", "text", hasher = Dedup.Md5Hasher)
    }))

  /** DuckDB bucket recomputation for the RHP-LSH paths: the SAME
    * deterministic hyperplanes (Similarity.rhpPlaneComponents) as SQL list
    * literals plus the sign-bit bucket expression, so the approximate scale
    * paths are EXACTLY verifiable instead of rows-only. Returns the plane
    * CTE column list and the bucket expression over a vector column `v`. */
  private def rhpSqlParts(bits: Int, dim: Int, table: Int = 0,
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

  /** Shared RHP bucket-join pair CTE prefix (`...  s(id_a, id_b, sim)`)
    * mirroring `Similarity.embeddingDupPairs(bits = 6, dim = 64)` — used
    * by dedup_embedding_lsh and the semantic-leak audit. */
  private def rhpLshPairPrefixSql: String = {
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

  /** Mirror of `Similarity.embeddingDupPairs(bits = 6, dim = 64)`. */
  private def rhpLshOracleSql: String =
    rhpLshPairPrefixSql +
      " SELECT id_a, id_b, round(sim, 6) AS sim FROM s WHERE sim >= 0.4"

  /** Mirror of `Similarity.lshTopK(k = 5, bits = 8, dim = 64,
    * multiProbe = true)` over queries vec_id < 8: recompute buckets, probe
    * the signature and its 8 Hamming-1 neighbors, score in-bucket pairs,
    * global top-5 per query. */
  /** BM25 top-10 for the three keyword queries — same expression tree as
    * `Bm25.termScore` (ln = natural log in both engines; per-term scores
    * summed as DECIMAL so accumulation order cannot matter). Shared by
    * text_bm25_topk and the fusion oracle's lexical leg. */
  private def bm25TopkOracleSql: String =
    "WITH q(query_id, qtext) AS (VALUES (0, 'spark join'), " +
      "(1, 'table scan fast'), (2, 'window batch agg')), " +
      "qt AS (SELECT query_id, unnest(list_distinct(list_filter(" +
      "string_split_regex(lower(qtext), '\\s+'), x -> len(x) > 0))) AS term FROM q), " +
      s"d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
      "stats AS (SELECT count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM d), " +
      "dd AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d), " +
      "post AS (SELECT term, doc_id, dl, count(*) AS tf FROM dd " +
      "WHERE term IN (SELECT term FROM qt) GROUP BY term, doc_id, dl), " +
      "dft AS (SELECT term, count(*) AS df FROM post GROUP BY term), " +
      "sc AS (SELECT query_id, doc_id, sum(CAST(" +
      "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * " +
      "(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))) " +
      "AS DECIMAL(27,12))) AS s " +
      "FROM post JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN stats " +
      "GROUP BY query_id, doc_id) " +
      "SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS INTEGER) AS rank, " +
      "doc_id, round(CAST(s AS DOUBLE), 6) AS score " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY CAST(s AS DOUBLE) DESC, doc_id) AS rn FROM sc) WHERE rn <= 10"

  /** Mirror of `QueryLikelihood.topK` (Dirichlet µ=2000) over the same
    * three queries — the identical smoothing arithmetic with per-term
    * contributions summed as DECIMAL(27,12). Shared by text_ql_topk and
    * the RBO oracle's QL leg. */
  private def qlTopkOracleSql: String =
    "WITH q(query_id, qtext) AS (VALUES (0, 'spark join'), " +
      "(1, 'table scan fast'), (2, 'window batch agg')), " +
      "qt AS (SELECT query_id, unnest(list_distinct(list_filter(" +
      "string_split_regex(lower(qtext), '\\s+'), x -> len(x) > 0))) AS term FROM q), " +
      s"d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
      "stats AS (SELECT count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM d), " +
      "dd AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d), " +
      "post AS (SELECT term, doc_id, dl, count(*) AS tf FROM dd " +
      "WHERE term IN (SELECT term FROM qt) GROUP BY term, doc_id, dl), " +
      "cft AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM post GROUP BY term), " +
      "qn AS (SELECT query_id, count(*) AS n_qc FROM qt JOIN cft USING (term) GROUP BY query_id), " +
      "sc AS (SELECT query_id, doc_id, dl, sum(CAST(" +
      "ln(1.0 + tf * CAST(sum_dl AS DOUBLE) / (2000.0 * cf)) " +
      "AS DECIMAL(27,12))) AS s " +
      "FROM post JOIN cft USING (term) JOIN qt USING (term) CROSS JOIN stats " +
      "GROUP BY query_id, doc_id, dl), " +
      "fin AS (SELECT query_id, doc_id, CAST(s + " +
      "CAST(n_qc * ln(2000.0 / (dl + 2000.0)) AS DECIMAL(27,12)) AS DOUBLE) AS sim " +
      "FROM sc JOIN qn USING (query_id)) " +
      "SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS INTEGER) AS rank, " +
      "doc_id, round(sim, 6) AS score " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY sim DESC, doc_id) AS rn FROM fin) WHERE rn <= 10"

  /** DuckDB tokenization of an arbitrary column (same kernel as
    * [[sqlToks]], which is pinned to `text`). */
  private def sqlToksOf(c: String): String =
    s"list_filter(string_split_regex(lower($c), '\\s+'), x -> len(x) > 0)"

  private def queryValuesSql(qs: Seq[(Long, String)]): String =
    qs.map { case (id, txt) => s"($id, '$txt')" }.mkString(", ")

  /** Mirror of `Postings.booleanAnd` over [[boolQueryLits]]. */
  private def booleanSearchOracleSql: String =
    s"WITH q(query_id, qtext) AS (VALUES ${queryValuesSql(boolQueryLits)}), " +
      s"qt AS (SELECT query_id, unnest(list_distinct(${sqlToksOf("qtext")})) AS term FROM q), " +
      "qn AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY query_id), " +
      s"p AS (SELECT doc_id, unnest(list_distinct($sqlToks)) AS term FROM documents), " +
      "h AS (SELECT query_id, doc_id, count(*) AS n_hit FROM p JOIN qt USING (term) " +
      "GROUP BY query_id, doc_id) " +
      "SELECT CAST(h.query_id AS BIGINT) AS query_id, h.doc_id, qn.n_terms " +
      "FROM h JOIN qn USING (query_id) WHERE h.n_hit = qn.n_terms"

  /** Mirror of `Postings.phraseSearch` over [[phraseQueryLits]]: the same
    * anchor normalization (pos − offset) and distinct-offset count. */
  private def phraseSearchOracleSql: String =
    s"WITH q(query_id, qtext) AS (VALUES ${queryValuesSql(phraseQueryLits)}), " +
      s"qt AS (SELECT query_id, generate_subscripts(toks, 1) - 1 AS term_off, unnest(toks) AS term " +
      s"FROM (SELECT query_id, ${sqlToksOf("qtext")} AS toks FROM q)), " +
      "qn AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY query_id), " +
      s"p AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS term " +
      s"FROM (SELECT doc_id, $sqlToks AS toks FROM documents)), " +
      "j AS (SELECT query_id, doc_id, pos - term_off AS anchor, term_off " +
      "FROM p JOIN qt USING (term) WHERE pos - term_off >= 0), " +
      "m AS (SELECT query_id, doc_id, anchor, count(DISTINCT term_off) AS k " +
      "FROM j GROUP BY query_id, doc_id, anchor) " +
      "SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, " +
      "count(*) AS n_occurrences, min(anchor) AS first_pos " +
      "FROM m JOIN qn USING (query_id) WHERE k = n_terms " +
      "GROUP BY query_id, doc_id"

  /** Mirror of `Fusion.rrf` over the bm25 lexical leg and an exact-cosine
    * vector leg (queries vec_id < 3, k = 10): both legs' ranks are fused
    * as exact integers ⌊10¹²/(60+rank)⌋ — BIGINT `//` here, a proven-exact
    * double floor in Spark — so the fused order is total in both engines. */
  private def rrfFusionOracleSql: String =
    s"WITH lex AS ($bm25TopkOracleSql), " +
      "vec AS (WITH vq AS (SELECT vec_id AS qid, embedding AS qv " +
      "FROM embeddings WHERE vec_id < 3), " +
      "vsc AS (SELECT vq.qid, e.vec_id AS nid, " +
      "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * vq.qv[i]::DOUBLE)) / " +
      "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
      "sqrt(list_sum(list_transform(range(1, 65), i -> vq.qv[i]::DOUBLE * vq.qv[i]::DOUBLE)))) AS sim " +
      "FROM embeddings e, vq WHERE e.vec_id <> vq.qid) " +
      "SELECT qid AS query_id, rn AS rank, nid AS doc_id " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY qid " +
      "ORDER BY sim DESC, nid) AS rn FROM vsc) WHERE rn <= 10), " +
      "u AS (SELECT query_id, doc_id, rank FROM lex " +
      "UNION ALL SELECT query_id, doc_id, rank FROM vec), " +
      "f AS (SELECT query_id, doc_id, " +
      "CAST(sum(1000000000000 // (60 + rank)) AS BIGINT) AS rrf_e12, " +
      "count(*) AS hits FROM u GROUP BY query_id, doc_id) " +
      "SELECT query_id, CAST(rn AS INTEGER) AS rank, doc_id, rrf_e12, hits " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY rrf_e12 DESC, doc_id) AS rn FROM f) WHERE rn <= 10"

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

  /** Shared KMV oracle prefix at sketch size `k`: per-source bottom-k of
    * the distinct md5-60 token hashes, ending in `km(source, kv)` with
    * `kv` the ascending k-minima list — the DuckDB replay of
    * `Kmv.sketch` (deterministic hashes make the sketch itself, not just
    * its estimates, engine-exact). */
  private def sqlKmvKm(k: Int): String =
    s"WITH tk AS (SELECT source, unnest($sqlToks) AS term FROM documents), " +
      s"h AS (SELECT DISTINCT source, ${sqlMd5Long("term")} AS h FROM tk), " +
      s"r AS (SELECT source, h, row_number() OVER " +
      s"(PARTITION BY source ORDER BY h) AS rn FROM h), " +
      s"km AS MATERIALIZED (SELECT source, list(h ORDER BY h) AS kv " +
      s"FROM r WHERE rn <= $k GROUP BY source)"

  /** The (k−1)/θ estimate over a kv-list expression — floored double,
    * exact under-full (the `Kmv.estimateCol` twin; 2^60 spelled as a
    * CAST so DuckDB's DECIMAL literal rule cannot bite). */
  private def sqlKmvEst(kv: String, k: Int): String =
    s"CASE WHEN len($kv) < $k THEN len($kv) ELSE " +
      s"CAST(floor(CAST($k - 1 AS DOUBLE) * " +
      s"CAST(1152921504606846976 AS DOUBLE) / CAST($kv[-1] AS DOUBLE)) " +
      s"AS BIGINT) END"

  /** Exact 3-shingle Jaccard ≥ 0.5 pairs with the 500-posting cap —
    * shared by dedup_jaccard and the candidate-eval oracle's truth leg. */
  /** Shared per-doc bigram-LM cross-entropy CTE body (`d` docs → `s`
    * per-doc NLL sums) — used by text_perplexity and corpus_ppl_buckets
    * so the model definition can never drift between them. */
  private def pplBodySql: String =
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
  private def ccCompPrefixSql: String =
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

  private def jaccardPairsOracleSql: String = jaccardPairsOracleSqlAt(0.5)

  /** The capped shingle-Jaccard pair pipeline at an arbitrary threshold
    * (dedup_threshold_sweep reuses it at 0.25). */
  private def jaccardPairsOracleSqlAt(threshold: Double): String =
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

  /** Mirror of `Layout.zBucketSpans(l_partkey, l_suppkey, bits = 16,
    * prefixBits = 16)`: the same 32-term Morton interleave, fully
    * parenthesized (DuckDB `&` binds below `=`). */
  private def zorderOracleSql: String = {
    val z = (for {
      (c, i) <- Seq("l_partkey", "l_suppkey").zipWithIndex
      j <- 0 until zorderBits
    } yield s"((($c >> $j) & 1) << ${j * 2 + i})").mkString(" + ")
    s"SELECT (($z) >> ${2 * zorderBits - zorderPrefix}) AS bucket, count(*) AS n_rows, " +
      "min(l_partkey) AS min_a, max(l_partkey) AS max_a, " +
      "min(l_suppkey) AS min_b, max(l_suppkey) AS max_b " +
      "FROM lineitem GROUP BY 1"
  }

  /** Mirror of `Layout.hilbertBucketSpans(bits = hilbertBits)`: the DFA
    * fold unrolled as one CTE per bit (MSB first), reading the SAME
    * transition table constant (`Layout.hilbertTable`) — per-round
    * expressions reference named CTE columns, so nothing re-expands. */
  private def hilbertOracleSql: String = {
    val tblSql = Layout.hilbertTable.mkString("[", ", ", "]")
    val rounds = (0 until hilbertBits).map { k =>
      val i = hilbertBits - 1 - k
      s"h${k + 1} AS (SELECT a, b, (((((acc >> 2) << 2) | (p >> 2)) << 2) | (p & 3)) AS acc FROM " +
        s"(SELECT a, b, acc, ($tblSql)[CAST((((acc & 3) * 4) + (((a >> $i) & 1) * 2) + ((b >> $i) & 1)) + 1 AS INT)] AS p FROM h$k))"
    }.mkString(", ")
    s"WITH h0 AS (SELECT l_partkey AS a, l_suppkey AS b, CAST(0 AS BIGINT) AS acc FROM lineitem), " +
      rounds +
      s" SELECT ((acc >> 2) >> ${2 * hilbertBits - hilbertPrefix}) AS bucket, " +
      "count(*) AS n_rows, min(a) AS min_a, max(a) AS max_a, " +
      s"min(b) AS min_b, max(b) AS max_b FROM h$hilbertBits GROUP BY 1"
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

  /** DuckDB mirror of `Similarity.bitextMarginMine` on the even/odd
    * vec_id split (bits=8, multi-probe Hamming-1, margin 20000 µ): same
    * planes, same bucket join, same top-2 tie-break, same µ-floored
    * absolute margin (floor of the identical double cannot straddle). */
  private def bitextMineOracleSql: String = {
    val (planeCols, bucketExpr) = rhpSqlParts(8, 64)
    val probeList = "[sig" + (0 until 8).map(b => s", xor(sig, ${1L << b})")
      .mkString + "]"
    s"WITH pl AS (SELECT $planeCols), " +
      "v0 AS (SELECT vec_id AS id, embedding AS v FROM embeddings), " +
      s"b AS (SELECT id, v, $bucketExpr AS bucket, " +
      "sqrt(list_sum(list_transform(range(1, 65), d -> v[d]::DOUBLE * v[d]::DOUBLE))) AS n " +
      "FROM v0, pl), " +
      "q AS (SELECT id AS qid, v AS qv, n AS qn, bucket AS sig FROM b WHERE id % 2 = 0), " +
      // per-bucket corpus cap, stable-hash order — the engine's maxBucket
      "cc AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY bucket " +
      s"ORDER BY $sqlStableBucket30, id) AS cr FROM b WHERE id % 2 = 1) WHERE cr <= 1024), " +
      s"probes AS (SELECT qid, qv, qn, unnest($probeList) AS bucket FROM q), " +
      "s AS (SELECT p.qid, c.id AS nid, " +
      "list_sum(list_transform(range(1, 65), d -> c.v[d]::DOUBLE * p.qv[d]::DOUBLE)) / (c.n * p.qn) AS sim " +
      "FROM cc c JOIN probes p ON c.bucket = p.bucket), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s), " +
      "tp AS (SELECT qid, max(CASE WHEN rn = 1 THEN nid END) AS dst_id, " +
      "max(CASE WHEN rn = 1 THEN sim END) AS s1, " +
      "max(CASE WHEN rn = 2 THEN sim END) AS s2 FROM r WHERE rn <= 2 GROUP BY qid) " +
      "SELECT qid AS src_id, dst_id, round(s1, 6) AS sim, " +
      "CAST(floor((s1 - s2) * 1000000) AS BIGINT) AS margin_mu " +
      "FROM tp WHERE s2 IS NOT NULL AND floor((s1 - s2) * 1000000) >= 20000 " +
      "ORDER BY src_id"
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

  /** Shared CTE chain of the Merkle oracles — lv (doc leaves) and l0..l4
    * (shard digests pairing up to the per-source root); trailing
    * comma-space for callers to append to. */
  private def sqlMerkleCtes: String =
    s"WITH lv AS (SELECT source, ${sqlMd5Long("doc_id::VARCHAR")} % 16 AS shard, " +
      "md5(doc_id::VARCHAR || ':' || COALESCE(text, '')) AS h FROM documents), " +
      "l0 AS (SELECT source, shard, count(*) AS n, " +
      "md5(string_agg(h, '' ORDER BY h)) AS h FROM lv GROUP BY 1, 2), " +
      (1 to 4).map { k =>
        s"l$k AS (SELECT source, shard // 2 AS shard, CAST(sum(n) AS BIGINT) AS n, " +
          s"md5(string_agg(h, '' ORDER BY shard)) AS h FROM l${k - 1} GROUP BY 1, 2), "
      }.mkString

  /** DuckDB twin of Merkle.proofs: per (source, shard) the sibling path
    * up the 4 pairing rounds (null sibling = empty subtree, fold passes
    * through) and the recomputed-root verification bit. */
  private def merkleProofOracleSql: String = {
    val pCtes = (0 until 4).map { k =>
      val carry = (0 until k).map(i => s"p.sib$i, ").mkString
      s"p${k + 1} AS (SELECT p.source, p.shard, p.idx // 2 AS idx, p.n, p.leaf_h, ${carry}s.h AS sib$k, " +
        s"md5(CASE WHEN s.h IS NULL THEN p.rh WHEN p.idx % 2 = 0 THEN p.rh || s.h ELSE s.h || p.rh END) AS rh " +
        s"FROM p$k p LEFT JOIN l$k s ON p.source = s.source AND xor(p.idx, 1::BIGINT) = s.shard), "
    }.mkString
    sqlMerkleCtes +
      "p0 AS (SELECT source, shard, shard AS idx, n, h AS leaf_h, h AS rh FROM l0), " +
      pCtes.stripSuffix(", ") +
      " SELECT p.source, p.shard, p.n AS n_docs, p.leaf_h, " +
      (0 until 4).map(k => s"COALESCE(p.sib$k, '') AS sib$k, ").mkString +
      "r.h AS root, CAST(CASE WHEN p.rh = r.h THEN 1 ELSE 0 END AS BIGINT) AS ok " +
      "FROM p4 p JOIN l4 r ON p.source = r.source ORDER BY p.source, p.shard"
  }

  /** Mirror of `corpus_merkle_delete`: the Merkle chain built TWICE —
    * full corpus (published roots) and survivors (proof side) — then the
    * per-source verdicts, full-outer so the wholly-deleted source's
    * orphaned root surfaces as its ok=0 row. */
  private def merkleDeleteOracleSql: String = {
    val remFilter = "source <> 'src0' AND NOT (source = 'src9' AND " +
      "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 >= 80)"
    def chain(sfx: String, rel: String): String =
      s"lv$sfx AS (SELECT source, ${sqlMd5Long("doc_id::VARCHAR")} % 16 AS shard, " +
        s"md5(doc_id::VARCHAR || ':' || COALESCE(text, '')) AS h FROM $rel), " +
        s"l0$sfx AS (SELECT source, shard, count(*) AS n, " +
        s"md5(string_agg(h, '' ORDER BY h)) AS h FROM lv$sfx GROUP BY 1, 2), " +
        (1 to 4).map { k =>
          s"l$k$sfx AS (SELECT source, shard // 2 AS shard, CAST(sum(n) AS BIGINT) AS n, " +
            s"md5(string_agg(h, '' ORDER BY shard)) AS h FROM l${k - 1}$sfx GROUP BY 1, 2), "
        }.mkString
    val pCtes = (0 until 4).map { k =>
      s"p${k + 1} AS (SELECT p.source, p.shard, p.idx // 2 AS idx, p.n, " +
        s"md5(CASE WHEN s.h IS NULL THEN p.rh WHEN p.idx % 2 = 0 THEN p.rh || s.h ELSE s.h || p.rh END) AS rh " +
        s"FROM p$k p LEFT JOIN l$k s ON p.source = s.source AND xor(p.idx, 1::BIGINT) = s.shard), "
    }.mkString
    s"WITH rem AS (SELECT * FROM documents WHERE $remFilter), " +
      chain("", "rem") + chain("F", "documents") +
      "p0 AS (SELECT source, shard, shard AS idx, n, h AS rh FROM l0), " +
      pCtes +
      "olda AS (SELECT COALESCE(p.source, r.source) AS source, " +
      "count(*) AS n_rows, CAST(COALESCE(sum(p.n), 0) AS BIGINT) AS n_docs, " +
      "CAST(sum(CASE WHEN p.rh = r.h THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_old " +
      "FROM p4 p FULL OUTER JOIN l4F r ON p.source = r.source GROUP BY 1), " +
      "newa AS (SELECT p.source, " +
      "CAST(sum(CASE WHEN p.rh = r.h THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_new " +
      "FROM p4 p JOIN l4 r ON p.source = r.source GROUP BY 1) " +
      "SELECT o.source, o.n_rows, o.n_docs, o.n_ok_old, " +
      "CAST(COALESCE(n.n_ok_new, 0) AS BIGINT) AS n_ok_new " +
      "FROM olda o LEFT JOIN newa n ON o.source = n.source ORDER BY o.source"
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

  /** The one-shot data-card artifact over the FULL documents table —
    * langIdBodySql's predictor + the rule-screen predicates (same
    * interpolated constants) + md5 group sizes, composed per source.
    * Shared verbatim by corpus_datacard (one-shot build) and
    * corpus_datacard_delta (merged per-snapshot states): the delta
    * query passing THIS oracle is the proof that
    * artifact(A∪B) ≡ assemble(merge(state(A), state(B))). */
  private def datacardOracleSql: String = {
    val swList = TextFunctions.stopwords("en").map(w => s"'$w'").mkString(", ")
    import TextFunctions._
    s"WITH $langIdBodySql, " +
      "lgs AS (SELECT d0.source, lg.lang_guess FROM lg JOIN documents d0 ON lg.doc_id = d0.doc_id), " +
      "lcnt AS (SELECT source, lang_guess, count(*) AS c FROM lgs GROUP BY 1, 2), " +
      "ltop AS (SELECT source, lang_guess AS top_lang, c FROM (SELECT *, row_number() OVER (PARTITION BY source ORDER BY c DESC, lang_guess) AS rn FROM lcnt) WHERE rn = 1), " +
      s"bs AS (SELECT source, count(*) AS n_docs, CAST(sum(len($sqlToks)) AS BIGINT) AS n_tokens FROM documents GROUP BY 1), " +
      s"fps AS (SELECT source, md5(COALESCE(array_to_string($sqlToks, ' '), '')) AS f FROM documents), " +
      "gsz AS (SELECT f, count(*) AS gs FROM fps GROUP BY 1), " +
      "dups AS (SELECT source, count(CASE WHEN gs > 1 THEN 1 END) AS dup FROM fps JOIN gsz USING (f) GROUP BY 1), " +
      s"rb AS (SELECT source, text AS tx, $sqlToks AS toks FROM documents), " +
      "rf AS (SELECT source, CAST(len(toks) AS BIGINT) AS nw, " +
      "(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) * 1000000) // greatest(CAST(len(toks) AS BIGINT), 1) AS mlus, " +
      s"len(list_filter(list_distinct(toks), x -> list_contains([$swList], x))) AS nstop, " +
      "(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1000000) // greatest(CAST(len(toks) AS BIGINT), 1) AS appm, " +
      "len(tx) - len(replace(tx, '#', '')) AS nhash, " +
      "(len(tx) - len(replace(tx, '...', ''))) // 3 AS nell FROM rb), " +
      s"rg AS (SELECT source, (nw < $RuleWcLo OR nw > $RuleWcHi) AS fwc, " +
      s"(mlus < $RuleWlLoUs OR mlus > $RuleWlHiUs) AS fwl, " +
      s"(nstop < $RuleMinStop) AS fstop, (appm < $RuleAlphaMinPpm) AS falpha, " +
      s"(((nhash + nell) * 1000000) // greatest(nw, 1) > $RuleSymMaxPpm) AS fsym FROM rf), " +
      "keeps AS (SELECT source, CAST(sum(CASE WHEN NOT fwc AND NOT fwl AND NOT fstop AND NOT falpha AND NOT fsym THEN 1 ELSE 0 END) AS BIGINT) AS n_kept FROM rg GROUP BY source) " +
      "SELECT bs.source, bs.n_docs, bs.n_tokens, " +
      "CAST((dup * 1000000) // n_docs AS BIGINT) AS dup_doc_ppm, " +
      "CAST((n_kept * 1000000) // n_docs AS BIGINT) AS gopher_keep_ppm, " +
      "top_lang, CAST((c * 1000000) // n_docs AS BIGINT) AS top_lang_ppm " +
      "FROM bs JOIN dups USING (source) JOIN keeps USING (source) JOIN ltop USING (source)"
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

  /** Mirror of the md5-hasher `dedup_minhash_lsh` query: md5-prefix long
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

  /** Mirror of `corpus_ingest`: same MinHash/banding CTEs as
    * [[minhashLshOracleSql]] but carrying the stable old/new bucket, then
    * two existence probes (exact fingerprint, any-band collision) for the
    * new side only. No caps — existence joins have no quadratic bucket
    * risk (matches the engine's declared semantics). */
  private def ingestOracleSql: String = {
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

  /** Mirror of the md5-hasher `dedup_simhash` query: md5-prefix long per
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

  // sums aggregate as exact DECIMAL (order-independent), then cast to
  // DOUBLE in the final projection so both engines hash identically —
  // the same SQL text runs on Spark and DuckDB
  private val PricingSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1999-01-01'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q5/Q10/Q14/Q18 shapes, ONE SQL text for both engines (the
    * PricingSql discipline): revenue floors per-row to µ integers before
    * the order-free DECIMAL sum; `CAST(1 AS DOUBLE)` instead of a bare
    * `1.0` (DECIMAL in DuckDB, the known literal-typing gotcha);
    * timestamp columns compare through CAST(... AS DATE); every top-k
    * carries a total tie-break order. Date windows sit inside the
    * generator's 1995–2001 range. */
  private val LocalVolumeSql =
    """SELECT n_name,
      |  CAST(sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |           AS DECIMAL(38,0))) AS BIGINT) AS revenue_us
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      |GROUP BY n_name""".stripMargin

  private val NationVolumeSql =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(sum(rev_us) AS BIGINT) AS revenue_us
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS l_year,
      |    CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |         AS DECIMAL(38,0)) AS rev_us
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |    AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))) shipping
      |GROUP BY supp_nation, cust_nation, l_year""".stripMargin

  private val ReturnedItemsSql =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |           AS DECIMAL(38,0))) AS BIGINT) AS revenue_us
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue_us DESC, c_custkey
      |LIMIT 20""".stripMargin

  private val PromoRevenueSql =
    """SELECT
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000) AS DECIMAL(38,0))
      |    ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT) AS promo_rev_us,
      |  CAST(sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |           AS DECIMAL(38,0))) AS BIGINT) AS total_rev_us
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'""".stripMargin

  private val DiscountedRevenueSql =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |           AS DECIMAL(38,0))) AS BIGINT) AS revenue_us
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND ((p_brand = 'Brand#1' AND p_size <= 15
      |        AND l_quantity >= 1 AND l_quantity <= 15)
      |    OR (p_brand = 'Brand#2' AND p_size <= 25
      |        AND l_quantity >= 10 AND l_quantity <= 25)
      |    OR (p_brand = 'Brand#3' AND p_size <= 40
      |        AND l_quantity >= 20 AND l_quantity <= 35))""".stripMargin

  private val LargeOrdersSql =
    """SELECT c_custkey, o_orderkey,
      |  CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_date,
      |  CAST(floor(o_totalprice * 1000000) AS BIGINT) AS totalprice_us,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_custkey, o_orderkey, CAST(CAST(o_orderdate AS DATE) AS STRING),
      |  CAST(floor(o_totalprice * 1000000) AS BIGINT)
      |ORDER BY totalprice_us DESC, o_orderkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q6 shape; the discount band uses ::DOUBLE on the DuckDB side
    * (bare 0.05 is DECIMAL there) so both engines compare the same IEEE
    * doubles; the three-way product is left-associated identically. */
  private val ForecastRevenueSql =
    """SELECT count(*) AS n_rows,
      |  CAST(coalesce(sum(CAST(floor(l_extendedprice * l_discount * 1000000) AS DECIMAL(38,0))), 0) AS BIGINT) AS revenue_us
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount >= CAST(0.05 AS DOUBLE)
      |  AND l_discount <= CAST(0.07 AS DOUBLE)
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q13 shape — the LEFT OUTER + count-distribution probe: the
    * exclusion filter lives in the JOIN's ON clause (a WHERE would turn
    * the outer join inner and lose the zero-order customers), then two
    * stacked aggregations. The synthetic orders table has no o_comment,
    * so the exclusion is the priority class — same plan shape. */
  private val OrderDistSql =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count""".stripMargin

  /** TPC-H Q17 shape — the correlated scalar subquery (per-part average
    * quantity) the optimizer must decorrelate into an aggregate + join
    * rather than re-running per row. `5 * l_quantity < avg` spells
    * `l_quantity < 0.2·avg` without a 0.2 literal (DECIMAL in DuckDB,
    * DOUBLE in Spark); quantities are integral doubles so every sum —
    * hence the avg — is order-independent and bit-identical. */
  private val SmallQtySql =
    """SELECT CAST(sum(CAST(floor(l_extendedprice * 1000000) AS DECIMAL(38,0))) AS BIGINT) AS revenue_us,
      |  count(*) AS n_lines
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23' AND p_size <= 10
      |  AND 5 * l_quantity < (SELECT avg(l_quantity) FROM lineitem l2
      |                        WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** TPC-H Q21 shape — EXISTS + NOT EXISTS against the SAME fact (the
    * classic multi-self-semi/anti-join planning trap). The synthetic
    * lineitem has no receipt/commit dates, so "kept the order waiting"
    * becomes "sole returned line in a multi-supplier finished order" —
    * identical correlation structure, non-degenerate at every SF. */
  private val SoleReturnSql =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |  AND s_nationkey = n_nationkey AND n_regionkey = 0
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** TPC-H Q22 shape — anti-join gated by a scalar-average subquery. The
    * synthetic customers all have at least one order (and no c_phone),
    * so "never ordered" becomes "no order since 2000" and the country
    * code is the nation key — the anti-join + avg-gate plan is what's
    * under test. The average gate is spelled DIVISION-FREE over exact
    * µ-floored integers (`bal·n > Σbal` ≡ `bal > avg`): a raw
    * `avg(double)` is accumulation-order-dependent and a customer on
    * the boundary could flip between engines — or between Spark runs. */
  private val DormantCustomersSql =
    """SELECT cntrycode, count(*) AS numcust,
      |  CAST(sum(bal_us) AS BIGINT) AS totacctbal_us
      |FROM (SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
      |        CAST(floor(c_acctbal * 1000000) AS DECIMAL(38,0)) AS bal_us
      |      FROM customer
      |      WHERE c_nationkey IN (1, 5, 9, 13, 17, 21)
      |        AND CAST(floor(c_acctbal * 1000000) AS DECIMAL(38,0)) *
      |            (SELECT count(*) FROM customer
      |             WHERE c_acctbal > CAST(0 AS DOUBLE)
      |               AND c_nationkey IN (1, 5, 9, 13, 17, 21)) >
      |            (SELECT sum(CAST(floor(c_acctbal * 1000000) AS DECIMAL(38,0)))
      |             FROM customer
      |             WHERE c_acctbal > CAST(0 AS DOUBLE)
      |               AND c_nationkey IN (1, 5, 9, 13, 17, 21))
      |        AND NOT EXISTS (SELECT 1 FROM orders
      |                        WHERE o_custkey = c_custkey
      |                          AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')) custsale
      |GROUP BY cntrycode""".stripMargin

  /** TPC-H Q2 shape — the correlated "min over the same derived table"
    * pick: the cheapest supplier(s) per part must come from a scalar
    * subquery over the SAME aggregate the outer query reads (the
    * synthetic schema has no partsupp, so per-(part, supplier) unit cost
    * derives from lineitem). The optimizer must decorrelate into a
    * per-part min + join, and reuse — not recompute — the CTE. Unit
    * costs floor to µ integers (identical IEEE arithmetic both
    * engines); the top-20 order carries a full tie-break. */
  private val MinCostSupplierSql =
    """WITH ps AS (SELECT l_partkey, l_suppkey,
      |    CAST(min(floor(l_extendedprice * 1000000 / l_quantity)) AS BIGINT) AS cost_us
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT s_name, p_partkey, cost_us
      |FROM ps JOIN part ON p_partkey = l_partkey
      |        JOIN supplier ON s_suppkey = l_suppkey
      |WHERE p_size <= 5
      |  AND cost_us = (SELECT min(ps2.cost_us) FROM ps ps2
      |                 WHERE ps2.l_partkey = ps.l_partkey)
      |ORDER BY cost_us, p_partkey, s_name
      |LIMIT 20""".stripMargin

  /** TPC-H Q20 shape — the nested semi-join chain: supplier IN (fact
    * grouped+HAVING) where the fact filters by part IN (dim filter).
    * Both INs must plan as hash semi-joins feeding each other, with the
    * HAVING aggregate BELOW the outer semi-join. Quantity threshold
    * sums as exact DECIMAL. */
  private val ExcessStockSql =
    """SELECT s_name, s_suppkey
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_regionkey = 1
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      |      AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50)
      |ORDER BY s_name""".stripMargin

  /** TPC-H Q8 shape — national market share: one conditional share
    * inside a grouped aggregate over a 6-way snowflake (share emitted as
    * exact µ sums + floor-ppm — no decimal division). */
  private val MarketShareSql =
    """WITH vol AS (
      |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
      |    CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |        AS DECIMAL(38,0)) AS rev_us,
      |    s_nationkey AS supp_nation
      |  FROM lineitem, orders, customer, supplier, nation n1, region
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND l_suppkey = s_suppkey AND c_nationkey = n1.n_nationkey
      |    AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA')
      |SELECT o_year,
      |  CAST(sum(CASE WHEN supp_nation = 3 THEN rev_us ELSE 0 END) AS BIGINT) AS nation_rev_us,
      |  CAST(sum(rev_us) AS BIGINT) AS total_rev_us
      |FROM vol GROUP BY o_year""".stripMargin

  /** TPC-H Q9 shape — product-type profit by supplier nation and order
    * year: the widest join in the suite (fact + orders + part + supplier
    * + nation) with a two-term profit expression. The synthetic schema
    * has no partsupp, so unit cost derives from p_retailprice (µ·0.4) —
    * the SHAPE (5-way join, derived measure, nation×year rollup) is
    * what's under test. All-integer amount arithmetic. */
  private val ProfitSql =
    """WITH profit AS (
      |  SELECT n_name AS nation,
      |    CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
      |    CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |        AS DECIMAL(38,0))
      |      - CAST(floor(p_retailprice * 400000) AS DECIMAL(38,0))
      |        * CAST(l_quantity AS DECIMAL(18,0)) AS amount_us
      |  FROM lineitem, orders, part, supplier, nation
      |  WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
      |    AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |    AND p_type = 'PROMO')
      |SELECT nation, o_year, CAST(sum(amount_us) AS BIGINT) AS profit_us
      |FROM profit GROUP BY 1, 2
      |ORDER BY nation, o_year DESC
      |LIMIT 30""".stripMargin

  /** TPC-H Q12 shape — two-way conditional counts over a date-window
    * join (late-shipped lines by priority class; the synthetic lineitem
    * has no shipmode/receiptdate, so the class is the order priority and
    * lateness is ship−order ≥ 60 days). */
  private val LateLinesSql =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
      |  AND CAST(l_shipdate AS DATE) < DATE '1999-01-01'
      |GROUP BY l_returnflag""".stripMargin

  /** TPC-H Q16 shape — NOT IN over a subquery, the NULL-AWARE anti-join
    * planning case (semantically distinct from NOT EXISTS: one NULL in
    * the subquery empties the result, so the planner needs the
    * null-aware variant — Spark only supports it broadcast-side), plus
    * a count-distinct over the surviving join. The exclusion list is
    * broadcast-sized by construction (negative-balance suppliers). */
  private val SupplierCountSql =
    """SELECT p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part JOIN lineitem ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#3' AND p_size <= 10
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_type, p_size
      |ORDER BY supplier_cnt DESC, p_type, p_size
      |LIMIT 20""".stripMargin

  /** TPC-H Q11 shape — group rows filtered by a GLOBAL aggregate over
    * the same derived table (the share-of-total trap: the optimizer
    * must compute the total once, not per group). The gate is spelled
    * division-free (`value·1000 > total` ≡ `value > total/1000`) so no
    * decimal-division scale rules can diverge between engines. */
  private val ImportantPartsSql =
    """WITH pv AS (SELECT l_partkey,
      |    sum(CAST(floor(l_extendedprice * 1000000) AS DECIMAL(38,0))) AS value_us
      |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      |  WHERE s_nationkey < 5 GROUP BY 1)
      |SELECT l_partkey, CAST(value_us AS BIGINT) AS value_us
      |FROM pv
      |WHERE value_us * 1000 > (SELECT sum(value_us) FROM pv)
      |ORDER BY value_us DESC, l_partkey
      |LIMIT 25""".stripMargin

  /** TPC-H Q15 shape — the top-revenue row(s) selected by EQUALITY with
    * the max over the same aggregated view (ties all surface — no
    * arbitrary top-1); exact µ-integer revenue makes the equality
    * engine-stable. */
  private val TopSupplierSql =
    """WITH rev AS (SELECT l_suppkey,
      |    sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |        AS DECIMAL(38,0))) AS total_us
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
      |    AND CAST(l_shipdate AS DATE) < DATE '1998-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(total_us AS BIGINT) AS total_us
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total_us = (SELECT max(total_us) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** DuckDB equivalents. Keys must mirror `queries`; column names and array
    * orderings are aligned exactly (driver hash-compares after sorting
    * columns by name). Non-SQL-expressible ops (xxhash64-based LSH/SimHash,
    * the stubbed media decode, the streaming sink) are omitted → driver
    * records a rows-only check. */
  def oracleSql: Map[String, String] = Map(
    "tube_customer_doc" ->
      """SELECT c_custkey AS _customer_id, c_name, c_acctbal,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'B'
        |       WHEN c_mktsegment = 'AUTOMOBILE' THEN 'A'
        |       ELSE c_mktsegment END AS segment,
        |  n_name AS nation_name, r_name AS region_name,
        |  ls.latest_status AS latest_status,
        |  coalesce(oc.orders_count, 0) AS orders_count,
        |  CAST(coalesce(oc.total_spent, 0) AS DOUBLE) AS total_spent,
        |  coalesce(lc.lineitem_count, 0) AS lineitem_count
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |LEFT JOIN (SELECT o_custkey, count(DISTINCT o_orderkey) AS orders_count,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spent
        |  FROM orders GROUP BY o_custkey) oc ON c_custkey = oc.o_custkey
        |LEFT JOIN (SELECT o_custkey,
        |    count(DISTINCT l_orderkey * 10 + l_linenumber) AS lineitem_count
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey) lc ON c_custkey = lc.o_custkey
        |LEFT JOIN (SELECT o_custkey, o_orderstatus AS latest_status FROM (
        |    SELECT o_custkey, o_orderstatus, row_number() OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1) ls ON c_custkey = ls.o_custkey""".stripMargin,

    "tube_collector_doc" ->
      """SELECT c_custkey AS _account_id, c_name AS name, c_acctbal AS acctbal,
        |  'customer' AS source_node, n_name AS nation_set
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |UNION ALL
        |SELECT s_suppkey, s_name, s_acctbal, 'supplier', n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin,

    "dict_customer_doc" ->
      """SELECT c_custkey AS _customer_id, c_name, c_acctbal,
        |  n_name, r_name,
        |  coalesce(a.orders_count, 0) AS orders_count, a.max_price
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |LEFT JOIN (SELECT o_custkey,
        |    count(DISTINCT o_orderkey) AS orders_count,
        |    max(o_totalprice) AS max_price
        |  FROM orders GROUP BY o_custkey) a ON c_custkey = a.o_custkey""".stripMargin,

    "tube_runall_join" ->
      """SELECT c_custkey AS _customer_id, c_name, n_name AS nation_name,
        |  r_name AS region_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "a5_nested_roundtrip" ->
      """SELECT n_nationkey AS _nation_id, n_name, c_name, c_acctbal,
        |  c_custkey AS _customer_id
        |FROM nation JOIN customer ON c_nationkey = n_nationkey""".stripMargin,

    // canonical rebuild of the two-level nested doc from plain joins:
    // same decimal-cast number formatting, same string sort orders, same
    // left-join null semantics ('' markers for empty levels)
    "a5_nested_docs" ->
      ("WITH os AS (SELECT o_custkey, " +
        "list_sort(list(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) " +
        "|| ':' || CAST(o_orderkey AS VARCHAR))) AS lst " +
        "FROM orders WHERE o_totalprice > 0 GROUP BY o_custkey), " +
        "cs AS (SELECT c_nationkey, c_name || '@' || " +
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) || '@[' || " +
        "COALESCE(array_to_string(os.lst, ','), '') || ']@' || " +
        "CAST(c_custkey AS VARCHAR) AS s " +
        "FROM customer LEFT JOIN os ON os.o_custkey = c_custkey) " +
        "SELECT n.n_nationkey AS _nation_id, n.n_name, " +
        "COALESCE(array_to_string(list_sort(list(cs.s) " +
        "FILTER (WHERE cs.s IS NOT NULL)), '|'), '') AS customers_canon " +
        "FROM nation n LEFT JOIN cs ON cs.c_nationkey = n.n_nationkey " +
        "GROUP BY n.n_nationkey, n.n_name"),

    // the shared langid body supplies toks + prediction; stages are
    // conditional counts, the canonical stage groups the gated survivors
    "corpus_funnel_report" ->
      (s"WITH $langIdBodySql, " +
        "f AS (SELECT d.doc_id, len(t.toks) AS nt, " +
        "length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) / " +
        "CAST(CASE WHEN length(d.text) = 0 THEN 1 ELSE length(d.text) END AS DOUBLE) AS ar, " +
        "lg.lang_guess AS lgs, md5(array_to_string(t.toks, ' ')) AS fp " +
        "FROM documents d JOIN t ON d.doc_id = t.doc_id " +
        "JOIN lg ON d.doc_id = lg.doc_id), " +
        "st AS (SELECT count(*) AS s1, " +
        "count(CASE WHEN nt >= 1 THEN 1 END) AS s2, " +
        "count(CASE WHEN nt >= 5 THEN 1 END) AS s3, " +
        "count(CASE WHEN nt >= 5 AND ar > 0.5 THEN 1 END) AS s4, " +
        "count(CASE WHEN nt >= 5 AND ar > 0.5 AND lgs = 'en' THEN 1 END) AS s5 FROM f), " +
        "s6 AS (SELECT count(*) AS s6 FROM (SELECT fp FROM f " +
        "WHERE nt >= 5 AND ar > 0.5 AND lgs = 'en' GROUP BY fp)) " +
        "SELECT CAST(1 AS BIGINT) AS stage, 'total' AS stage_name, s1 AS n_docs FROM st " +
        "UNION ALL SELECT 2, 'nonempty', s2 FROM st " +
        "UNION ALL SELECT 3, 'min_length', s3 FROM st " +
        "UNION ALL SELECT 4, 'quality', s4 FROM st " +
        "UNION ALL SELECT 5, 'english', s5 FROM st " +
        "UNION ALL SELECT 6, 'exact_canonical', s6 FROM s6"),

    "corpus_clean" ->
      (s"WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents), " +
        "s AS (SELECT doc_id, text, toks, len(toks) AS n_tokens, " +
        "length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / " +
        "CAST(CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END AS DOUBLE) AS alpha_ratio, " +
        "len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','auf'], x))) AS s_de, " +
        "len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','that','it','for'], x))) AS s_en, " +
        "len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los','es','un','una','por'], x))) AS s_es, " +
        "len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','un','une','dans','que'], x))) AS s_fr, " +
        "len(list_filter(toks, x -> list_contains(['的','了','是','我','不','在','有','他','这','就'], x))) AS s_zh " +
        "FROM t), " +
        "g AS (SELECT doc_id, text, toks, n_tokens, alpha_ratio, " +
        "CASE WHEN m = 0 THEN 'und' WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en' " +
        "WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr' ELSE 'zh' END AS lang_guess " +
        "FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM s)), " +
        "f AS (SELECT * FROM g WHERE lang_guess = 'en' AND n_tokens >= 5 AND alpha_ratio > 0.5), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(array_to_string(toks, ' '))) " +
        "SELECT f.doc_id, f.lang_guess, f.n_tokens FROM f JOIN k ON f.doc_id = k.doc_id"),

    "p1_project_recode" ->
      """SELECT c_custkey, c_name AS name,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'B'
        |       WHEN c_mktsegment = 'AUTOMOBILE' THEN 'A'
        |       ELSE c_mktsegment END AS segment
        |FROM customer""".stripMargin,

    "p5_filter_dsl" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
        |FROM orders
        |WHERE o_totalprice > 100000 AND (o_orderstatus = 'F'
        |  OR o_orderpriority IN ('1-URGENT', '2-HIGH'))""".stripMargin,

    "p6_auth_path" ->
      """SELECT n_nationkey AS _nation_id,
        |  r_name || '-' || n_name AS project_id,
        |  CASE WHEN n_name = 'CHINA' THEN '/custom/china'
        |       ELSE '/programs/' || r_name || '/projects/' || n_name
        |  END AS auth_resource_path
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "j3_set_chain" ->
      // COALESCE: a child-less root's set prop is the EMPTY set (engine
      // zero semantics, AggExpr.zeroFill), not NULL — DuckDB's filtered
      // list() over zero rows aggregates to NULL instead
      """SELECT o_orderkey AS _orders_id, o_orderstatus,
        |  COALESCE(array_to_string(list_sort(list(DISTINCT p_brand)
        |    FILTER (WHERE p_brand IS NOT NULL)), '|'), '') AS part_brands
        |FROM orders
        |LEFT JOIN lineitem ON l_orderkey = o_orderkey
        |LEFT JOIN part ON p_partkey = l_partkey
        |GROUP BY o_orderkey, o_orderstatus""".stripMargin,

    "j2_hop_join" ->
      """SELECT c_custkey AS _customer_id, n_name AS nation_name,
        |  r_name AS region_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "a1_agg_basic" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(l_quantity) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "a1_salted_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(l_quantity) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  max(l_extendedprice) AS mx_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "a1_set_list" ->
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments,
        |  count(DISTINCT c_name) AS n_names
        |FROM customer GROUP BY c_nationkey""".stripMargin,

    "a2_agg_tree" ->
      """SELECT c_custkey AS _customer_id,
        |  coalesce(agg.n_li, 0) AS n_li,
        |  CAST(coalesce(agg.sum_qty, 0) AS DOUBLE) AS sum_qty
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey,
        |    count(DISTINCT l_orderkey * 10 + l_linenumber) AS n_li,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey) agg ON c_custkey = agg.o_custkey""".stripMargin,

    "a4_sorted_first" ->
      """SELECT l_orderkey, l_partkey AS top_partkey, l_quantity AS top_qty
        |FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_extendedprice DESC, l_linenumber DESC) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin,

    "j4_index_join" ->
      """SELECT c_custkey, c_name, agg.priorities, agg.n_orders
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey AS c_custkey,
        |    array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS priorities,
        |    count(o_orderkey) AS n_orders
        |  FROM orders GROUP BY o_custkey) agg USING (c_custkey)""".stripMargin,

    // as-of recomputed the portable way: left-join every prior order day,
    // keep the latest per event (row_number over order_us DESC); unmatched
    // events survive the LEFT JOIN with one all-null candidate
    "j6_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS order_us,
        |    count(*) AS day_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_total
        |  FROM orders GROUP BY 1, 2),
        |c AS (
        |  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |    o.order_us, o.day_orders, o.day_total,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.order_us DESC) AS rn
        |  FROM events e LEFT JOIN o
        |    ON o.user_id = e.user_id AND o.order_us <= epoch_us(e.ts))
        |SELECT event_id, user_id, ts_us, order_us AS asof_order_us,
        |  day_orders, CAST(day_total AS DOUBLE) AS day_total
        |FROM c WHERE rn = 1""".stripMargin,

    "j6_interval_join" ->
      """SELECT c.event_id AS from_id, c.user_id, epoch_us(c.ts) AS from_us,
        |  p.event_id AS to_id, epoch_us(p.ts) AS to_us
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 45 MINUTE""".stripMargin,

    "er_fuzzy_match" ->
      """WITH n AS (SELECT p_name AS name, count(*) AS n_rows
        |           FROM part GROUP BY 1),
        |t AS (SELECT name, n_rows,
        |        unnest(string_split_regex(name, '\s+')) AS tok FROM n),
        |tf AS (SELECT * FROM t WHERE len(tok) > 0),
        |ok AS (SELECT tok FROM tf GROUP BY tok HAVING count(*) <= 40),
        |cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b,
        |           a.n_rows AS n_a, b.n_rows AS n_b
        |         FROM tf a JOIN tf b ON b.tok = a.tok
        |         WHERE a.tok IN (SELECT tok FROM ok) AND a.name < b.name)
        |SELECT name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist, n_a, n_b
        |FROM cand WHERE levenshtein(name_a, name_b) <= 3""".stripMargin,

    "graph_pagerank" -> PageRankSql,

    // er_fuzzy_match's candidate CTEs + the recursive-CC pattern from
    // dedup_groups, then one aggregation per cluster
    "er_golden" ->
      """WITH RECURSIVE n AS (SELECT p_name AS name, count(*) AS n_rows
        |           FROM part GROUP BY 1),
        |t AS (SELECT name, unnest(string_split_regex(name, '\s+')) AS tok
        |      FROM n),
        |tf AS (SELECT * FROM t WHERE len(tok) > 0),
        |ok AS (SELECT tok FROM tf GROUP BY tok HAVING count(*) <= 40),
        |cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |         FROM tf a JOIN tf b ON b.tok = a.tok
        |         WHERE a.tok IN (SELECT tok FROM ok) AND a.name < b.name),
        |p AS (SELECT name_a, name_b FROM cand
        |      WHERE levenshtein(name_a, name_b) <= 3),
        |e AS (SELECT name_a AS a, name_b AS b FROM p
        |      UNION SELECT name_b, name_a FROM p),
        |reach AS (SELECT a, b FROM e
        |          UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach
        |         GROUP BY a),
        |g AS (SELECT n.name, n.n_rows, COALESCE(c.comp, n.name) AS cluster
        |      FROM n LEFT JOIN comp c ON c.id = n.name)
        |SELECT cluster, CAST(sum(n_rows) AS BIGINT) AS total_rows,
        |       count(*) AS n_variants
        |FROM g GROUP BY 1""".stripMargin,

    "dim_scd2" ->
      """WITH obs AS (SELECT o_custkey, epoch_us(o_orderdate) AS order_us,
        |               min(o_orderpriority) AS priority
        |             FROM orders GROUP BY 1, 2),
        |m AS (SELECT *, lag(priority) OVER
        |        (PARTITION BY o_custkey ORDER BY order_us) AS prev FROM obs),
        |c AS (SELECT o_custkey, order_us, priority FROM m
        |      WHERE prev IS NULL OR prev <> priority),
        |f AS (SELECT o_custkey, priority, order_us AS valid_from_us,
        |        lead(order_us) OVER
        |          (PARTITION BY o_custkey ORDER BY order_us) AS valid_to_us
        |      FROM c)
        |SELECT o_custkey, priority, valid_from_us, valid_to_us,
        |  CAST(valid_to_us IS NULL AS BIGINT) AS is_current FROM f""".stripMargin,

    "w3_union_distinct" ->
      """SELECT c_custkey AS entity_id, c_name AS name,
        |  c_nationkey AS nationkey, c_mktsegment AS segment FROM customer
        |UNION
        |SELECT s_suppkey, s_name, s_nationkey, NULL FROM supplier""".stripMargin,

    "q1_pricing" -> PricingSql.replace("\n", " "),
    "q5_local_volume" -> LocalVolumeSql.replace("\n", " "),
    "q7_nation_volume" -> NationVolumeSql.replace("\n", " "),
    "q10_returned" -> ReturnedItemsSql.replace("\n", " "),
    "q14_promo" -> PromoRevenueSql.replace("\n", " "),
    "q18_large_orders" -> LargeOrdersSql.replace("\n", " "),
    "q19_discounted" -> DiscountedRevenueSql.replace("\n", " "),
    "q13_order_dist" -> OrderDistSql.replace("\n", " "),
    "q17_small_qty" -> SmallQtySql.replace("\n", " "),
    "q21_sole_return" -> SoleReturnSql.replace("\n", " "),
    "q22_dormant_customers" -> DormantCustomersSql.replace("\n", " "),
    "q2_min_cost_supplier" -> MinCostSupplierSql.replace("\n", " "),
    "q20_excess_stock" -> ExcessStockSql.replace("\n", " "),
    "q11_important_parts" -> ImportantPartsSql.replace("\n", " "),
    "q15_top_supplier" -> TopSupplierSql.replace("\n", " "),
    "q16_supplier_count" -> SupplierCountSql.replace("\n", " "),
    "q8_market_share" -> MarketShareSql.replace("\n", " "),
    "q9_product_profit" -> ProfitSql.replace("\n", " "),
    "q12_late_lines" -> LateLinesSql.replace("\n", " "),

    // the SAME SQL text runs on both engines (the q1 pattern)
    "q6_forecast_revenue" -> ForecastRevenueSql.replace("\n", " "),

    "dedup_exact" ->
      (s"WITH t AS (SELECT doc_id, array_to_string($sqlToks, ' ') AS norm " +
        "FROM documents) " +
        "SELECT md5(norm) AS content_md5, min(doc_id) AS keep_id, " +
        "count(*) AS group_size, " +
        "array_to_string(list_transform(list_sort(list(doc_id)), " +
        "x -> CAST(x AS VARCHAR)), '|') AS member_ids " +
        "FROM t GROUP BY md5(norm)"),

    // same md5 split buckets as corpus_split; shares against each
    // split's OWN total
    "corpus_split_balance" ->
      ("WITH b0 AS (SELECT len(bin(n_chars)) AS bucket, " +
        "CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS s " +
        "FROM (SELECT n_chars, ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS h FROM documents)), " +
        "per AS (SELECT bucket, count(CASE WHEN s = 'train' THEN 1 END) AS tr, " +
        "count(CASE WHEN s = 'val' THEN 1 END) AS va, " +
        "count(CASE WHEN s = 'test' THEN 1 END) AS te FROM b0 GROUP BY 1), " +
        "tot AS (SELECT count(CASE WHEN s = 'train' THEN 1 END) AS ttr, " +
        "count(CASE WHEN s = 'val' THEN 1 END) AS tva, " +
        "count(CASE WHEN s = 'test' THEN 1 END) AS tte FROM b0), " +
        "sh AS (SELECT CAST(bucket AS BIGINT) AS bucket, " +
        "CASE WHEN ttr > 0 THEN (tr * 1000000) // ttr ELSE 0 END AS train_ppm, " +
        "CASE WHEN tva > 0 THEN (va * 1000000) // tva ELSE 0 END AS val_ppm, " +
        "CASE WHEN tte > 0 THEN (te * 1000000) // tte ELSE 0 END AS test_ppm " +
        "FROM per, tot) " +
        "SELECT bucket, train_ppm, val_ppm, test_ppm, " +
        "greatest(abs(train_ppm - val_ppm), abs(train_ppm - test_ppm), " +
        "abs(val_ppm - test_ppm)) AS max_gap_ppm FROM sh"),

    // per-customer value as exact integer µ, decile cut as the type-1
    // order statistic at k = max(1, ⌈0.9·n⌉) — the rfm oracle pattern
    "orders_pareto" ->
      ("WITH pc AS (SELECT o_custkey, " +
        "sum(CAST(floor(o_totalprice * 1000000) AS HUGEINT)) AS v FROM orders GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n FROM pc), " +
        "kk AS (SELECT greatest(1, (900000 * n + 999999) // 1000000) AS k FROM nn), " +
        "rr AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM pc), " +
        "th AS (SELECT CAST(rr.v AS BIGINT) AS thr FROM rr JOIN kk ON rr.rn = kk.k) " +
        "SELECT count(*) AS n_customers, " +
        "count(CASE WHEN v >= thr THEN 1 END) AS n_top, " +
        "CAST(min(thr) AS BIGINT) AS threshold_us, " +
        "CAST((sum(CASE WHEN v >= thr THEN v ELSE 0 END) * 1000000) // sum(v) AS BIGINT) AS top_share_ppm " +
        "FROM pc, th"),

    // min(row(id, chars)) ≡ the engine's struct min for the kept member
    "dedup_savings" ->
      (s"WITH t AS (SELECT doc_id, n_chars, array_to_string($sqlToks, ' ') AS norm FROM documents), " +
        "g AS (SELECT md5(norm) AS fp, count(*) AS n, " +
        "sum(CAST(n_chars AS HUGEINT)) AS chars, " +
        "arg_min(n_chars, doc_id) AS keep_chars FROM t GROUP BY 1) " +
        "SELECT CAST(sum(n) AS BIGINT) AS n_docs, " +
        "CAST(sum(n - 1) AS BIGINT) AS n_redundant_docs, " +
        "CAST(sum(chars) AS BIGINT) AS total_chars, " +
        "CAST(sum(chars - keep_chars) AS BIGINT) AS redundant_chars, " +
        "CAST(CASE WHEN sum(chars) > 0 THEN (sum(chars - keep_chars) * 1000000) // sum(chars) " +
        "ELSE 0 END AS BIGINT) AS savings_ppm FROM g"),

    "dedup_group_hist" ->
      (s"WITH t AS (SELECT array_to_string($sqlToks, ' ') AS norm FROM documents), " +
        "g AS (SELECT md5(norm) AS fp, count(*) AS n FROM t GROUP BY 1) " +
        "SELECT CAST(len(bin(n)) AS BIGINT) AS bucket, count(*) AS n_groups, " +
        "CAST(sum(n) AS BIGINT) AS n_docs, min(n) AS min_size, " +
        "max(n) AS max_size FROM g GROUP BY 1"),

    // same aggressive normalization chain as normalizedFingerprint (the
    // regex is RE2-compatible by design); n_variants counts distinct
    // PLAIN exact fingerprints inside each normalized group
    "dedup_normalized" ->
      (s"WITH t AS (SELECT doc_id, array_to_string(list_filter(" +
        "string_split_regex(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), " +
        "'\\s+'), x -> len(x) > 0), ' ') AS norm, " +
        s"array_to_string($sqlToks, ' ') AS exact_norm FROM documents) " +
        "SELECT md5(norm) AS norm_md5, min(doc_id) AS keep_id, " +
        "count(*) AS group_size, " +
        "count(DISTINCT md5(exact_norm)) AS n_variants, " +
        "array_to_string(list_transform(list_sort(list(doc_id)), " +
        "x -> CAST(x AS VARCHAR)), '|') AS member_ids " +
        "FROM t GROUP BY md5(norm)"),

    "dedup_tfidf_cosine" ->
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
        "SELECT id_a, id_b, round(cos, 6) AS cos FROM c WHERE cos >= 0.8"),

    "dedup_jaccard" -> jaccardPairsOracleSql,

    // deliberately NO posting cap anywhere: the brute-force truth is what
    // proves the engine's prefix filter lossless
    "dedup_jaccard_exactjoin" ->
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS shs FROM t), " +
        "sizes AS (SELECT doc_id, len(shs) AS n FROM sh), " +
        "posting AS (SELECT doc_id, unnest(shs) AS s FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
        "FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "scored AS (SELECT id_a, id_b, CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard " +
        "FROM pairs JOIN sizes na ON id_a = na.doc_id JOIN sizes nb ON id_b = nb.doc_id) " +
        "SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM scored WHERE jaccard >= 0.5"),

    // same CTE prefix as the jaccard oracle (postings capped identically),
    // then both directions with integer floor-ppm containment
    "dedup_containment" ->
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
        s"SELECT src, dst, CAST(cont_ppm AS BIGINT) AS cont_ppm FROM dir WHERE cont_ppm >= $containThreshPpm"),

    // the capless truth: same CTEs as dedup_containment but NO posting
    // cap — equality proves the one-sided prefix filter lossless
    "dedup_containment_exactjoin" ->
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
        s"SELECT src, dst, CAST(cont_ppm AS BIGINT) AS cont_ppm FROM dir WHERE cont_ppm >= $containThreshPpm"),

    "dedup_groups" ->
      s"$ccCompPrefixSql SELECT id, comp FROM comp",

    // PSI: same log2 buckets, Laplace smoothing and IEEE share divisions;
    // ln is the shared libm, terms floored to µ8 before any summation
    "corpus_psi_drift" ->
      (s"WITH t AS (SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 AS old, " +
        s"len(bin(len($sqlToks)::BIGINT)) AS bucket FROM documents), " +
        "c AS (SELECT bucket, count(CASE WHEN old THEN 1 END) AS n_old, " +
        "count(CASE WHEN NOT old THEN 1 END) AS n_new FROM t GROUP BY 1), " +
        "tt AS (SELECT sum(n_old) AS toc, sum(n_new) AS tnc, count(*) AS nb FROM c) " +
        "SELECT bucket, n_old, n_new, " +
        "CAST(floor(((n_old + 1)::DOUBLE / (toc + nb)::DOUBLE - (n_new + 1)::DOUBLE / (tnc + nb)::DOUBLE) * " +
        "ln(((n_old + 1)::DOUBLE / (toc + nb)::DOUBLE) / ((n_new + 1)::DOUBLE / (tnc + nb)::DOUBLE)) * 100000000) AS BIGINT) AS psi_term_u8 " +
        "FROM c, tt"),

    // embedding PSI: the corpus_cluster anchor-assignment CTEs + the
    // corpus_psi_drift share/ln/µ8 convention
    "embedding_psi_drift" ->
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
        "FROM c, tt"),

    // data card: langIdBodySql's predictor + the rule-screen predicates
    // (same interpolated constants) + md5 group sizes, composed per source
    "corpus_datacard" -> datacardOracleSql,

    // the incremental capstone: artifact(A∪B) from merged per-snapshot
    // states must equal the full-scan artifact — the oracle IS the
    // one-shot datacard SQL over the whole table
    "corpus_datacard_delta" -> datacardOracleSql,

    // the SAME datacard oracle computed over the survivors only (CTE
    // shadowing main.documents) — rebuild-without-docs, verbatim
    "corpus_datacard_delete" -> datacardOracleSql.replaceFirst("^WITH ",
      "WITH documents AS (SELECT * FROM main.documents " +
        "WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80), "),

    // same md5-mod-16 shards, same integer share deviation
    "corpus_shard_manifest" ->
      (s"WITH d AS (SELECT ${sqlMd5Long("doc_id::VARCHAR")} % 16 AS shard, " +
        s"len($sqlToks)::BIGINT AS tk FROM documents), " +
        "ps AS (SELECT shard, count(*) AS n_docs, CAST(sum(tk) AS BIGINT) AS n_tokens FROM d GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS tot FROM ps) " +
        "SELECT shard, n_docs, n_tokens, " +
        "CAST((n_tokens::HUGEINT * 16 * 1000000) // tot - 1000000 AS BIGINT) AS dev_ppm " +
        "FROM ps, tt"),

    "corpus_merkle_root" ->
      (sqlMerkleCtes.stripSuffix(", ") +
        " SELECT source, n AS n_docs, h AS merkle_root FROM l4 ORDER BY source"),

    "corpus_merkle_proof" -> merkleProofOracleSql,

    "corpus_merkle_delete" -> merkleDeleteOracleSql,

    // per-snapshot states (same md5 bucket split as corpus_delta),
    // least/sum full-outer merge, independent whole-corpus rebuild
    "dedup_groups_delta" ->
      (s"WITH t AS (SELECT doc_id, ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk, $sqlToks AS toks FROM documents), " +
        "fp AS (SELECT doc_id, bk, md5(COALESCE(array_to_string(toks, ' '), '')) AS f FROM t), " +
        "sa AS (SELECT f, min(doc_id) AS k, count(*) AS c FROM fp WHERE bk < 80 GROUP BY f), " +
        "sb AS (SELECT f, min(doc_id) AS k, count(*) AS c FROM fp WHERE bk >= 80 GROUP BY f), " +
        "m AS (SELECT COALESCE(sa.f, sb.f) AS f, least(sa.k, sb.k) AS k, COALESCE(sa.c, 0) + COALESCE(sb.c, 0) AS c FROM sa FULL OUTER JOIN sb ON sa.f = sb.f), " +
        "fl AS (SELECT f, min(doc_id) AS k, count(*) AS c FROM fp GROUP BY f) " +
        "SELECT count(*) AS n_groups, CAST(sum(m.c) AS BIGINT) AS n_docs, " +
        "count(CASE WHEN fl.k = m.k AND fl.c = m.c THEN 1 END) AS n_merge_exact " +
        "FROM m JOIN fl ON m.f = fl.f"),

    // direct rebuild over the survivors — hash equality against the
    // engine's subtract-and-repair path IS the delete contract
    "dedup_groups_delete" ->
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents " +
        "WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80) " +
        "SELECT md5(COALESCE(array_to_string(toks, ' '), '')) AS content_md5, " +
        "min(doc_id) AS keep_id, count(*) AS group_size " +
        "FROM t GROUP BY 1 ORDER BY content_md5"),

    "dedup_lsh_delete" -> lshDeleteOracleSql,

    "dedup_lsh_delta" -> lshDeltaOracleSql,

    // unrolled 5-step greedy max-coverage: each step is an argmax of
    // uncovered-shingle counts (count DESC, doc_id — the engine's total
    // order) and the covered set accumulates the winner's shingles
    "corpus_maxcover_select" -> sqlMaxcoverGreedy(5),

    // IDENTICAL oracle text to corpus_maxcover_select: CELF's lazy queue
    // is an exactness-preserving relaxation, so the cross-engine hash
    // equality IS the "CELF ≡ exact greedy" guarantee at the gated k
    "corpus_maxcover_celf" -> sqlMaxcoverGreedy(5),

    // stochastic-greedy: each round's argmax runs over the salted-md5
    // per-round sample (the engine's exact sampling rule), chosen docs
    // excluded, empty winner rounds pass covered through unchanged
    "corpus_maxcover_stochastic" -> {
      val prefix = s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        s"sh AS (SELECT doc_id, $sqlShingles3 AS shs FROM t), " +
        "p AS (SELECT doc_id, unnest(shs) AS s FROM sh), " +
        "c0 AS (SELECT s FROM p WHERE 1 = 0), "
      def bucket(r: Int): String =
        s"('0x' || substring(md5(doc_id::VARCHAR || ':sg$r'), 1, 8))::BIGINT % 100"
      val steps = (1 to 4).map { r =>
        val chosen =
          if (r == 1) ""
          else " AND doc_id NOT IN (" +
            (1 until r).map(j => s"SELECT doc_id FROM w$j").mkString(" UNION ALL ") + ")"
        s"w$r AS (SELECT doc_id, count(*) AS g FROM p " +
          s"WHERE ${bucket(r)} < 50$chosen " +
          s"AND s NOT IN (SELECT s FROM c${r - 1}) GROUP BY 1 " +
          "ORDER BY g DESC, doc_id LIMIT 1), " +
          s"c$r AS (SELECT s FROM c${r - 1} UNION ALL " +
          s"SELECT p.s FROM p JOIN w$r ON p.doc_id = w$r.doc_id), "
      }.mkString
      prefix + steps.stripSuffix(", ") +
        " SELECT * FROM (SELECT CAST(1 AS INTEGER) AS step, doc_id, g AS gain FROM w1" +
        (2 to 4).map(r => s" UNION ALL SELECT $r, doc_id, g FROM w$r").mkString +
        ") ORDER BY step"
    },

    // GreeDi unrolled: 3 per-bucket rounds (row_number argmax PER BUCKET,
    // covered sets keyed by bucket) -> candidate union -> the standard
    // 3-step global greedy restricted to the candidates
    "corpus_maxcover_greedi" -> {
      val phase1 = (1 to 3).map { r =>
        val notCovered = if (r == 1) ""
        else s"WHERE NOT EXISTS (SELECT 1 FROM c${r - 1} cc WHERE cc.bk = p.bk AND cc.s = p.s) "
        s"g$r AS (SELECT bk, doc_id, count(*) AS c FROM p $notCovered GROUP BY 1, 2), " +
          s"w$r AS (SELECT bk, doc_id FROM (SELECT *, row_number() OVER " +
          s"(PARTITION BY bk ORDER BY c DESC, doc_id) AS rn FROM g$r) WHERE rn = 1), " +
          s"c$r AS (${if (r == 1) "" else s"SELECT bk, s FROM c${r - 1} UNION ALL "}" +
          s"SELECT p.bk, p.s FROM p JOIN w$r ON p.bk = w$r.bk AND p.doc_id = w$r.doc_id), "
      }.mkString
      val phase2 = (2 to 3).map { r =>
        s"fw$r AS (SELECT doc_id, count(*) AS g FROM p2 " +
          s"WHERE s NOT IN (SELECT s FROM fc${r - 1}) GROUP BY 1 " +
          "ORDER BY g DESC, doc_id LIMIT 1), " +
          s"fc$r AS (SELECT s FROM fc${r - 1} UNION ALL " +
          s"SELECT p2.s FROM p2 JOIN fw$r ON p2.doc_id = fw$r.doc_id), "
      }.mkString
      s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        s"sh AS (SELECT doc_id, $sqlShingles3 AS shs FROM t), " +
        s"p AS (SELECT doc_id, ${sqlMd5Long("doc_id::VARCHAR")} % 4 AS bk, " +
        "unnest(shs) AS s FROM sh), " +
        phase1 +
        "cand AS (SELECT doc_id FROM w1 UNION SELECT doc_id FROM w2 UNION SELECT doc_id FROM w3), " +
        "p2 AS (SELECT doc_id, s FROM p WHERE doc_id IN (SELECT doc_id FROM cand)), " +
        "fw1 AS (SELECT doc_id, count(*) AS g FROM p2 GROUP BY 1 " +
        "ORDER BY g DESC, doc_id LIMIT 1), " +
        "fc1 AS (SELECT p2.s FROM p2 JOIN fw1 ON p2.doc_id = fw1.doc_id), " +
        phase2.stripSuffix(", ") +
        " SELECT * FROM (SELECT CAST(1 AS INTEGER) AS step, doc_id, g AS gain FROM fw1" +
        (2 to 3).map(r => s" UNION ALL SELECT $r, doc_id, g FROM fw$r").mkString +
        ") ORDER BY step"
    },

    // unrolled 4-step Gonzalez greedy: seed by stable-hash order, then
    // per step the farthest point (min-dist-to-selected argmax, dist
    // DESC / id ASC) with the least() running-min chain the engine uses
    "embedding_kcenter_select" -> {
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
    },

    // batched farthest-point, 2 picks/round: each round's TOP-2 by
    // (mind DESC, id) against the PRE-round mind (steps via row_number),
    // then one least() update folding both new centers
    "embedding_kcenter_batched" -> {
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
    },

    // the shared CC prefix, then the same log2 histogram convention
    "graph_component_hist" ->
      (s"$ccCompPrefixSql, " +
        "fam AS (SELECT comp, count(*) AS n FROM comp GROUP BY 1) " +
        "SELECT CAST(len(bin(n)) AS BIGINT) AS bucket, " +
        "count(*) AS n_families, CAST(sum(n) AS BIGINT) AS n_docs, " +
        "min(n) AS min_size, max(n) AS max_size FROM fam GROUP BY 1"),

    "vocab_hapax_report" ->
      (s"WITH t AS (SELECT $sqlToks AS toks FROM documents), " +
        "u AS (SELECT unnest(toks) AS tok FROM t), " +
        "c AS (SELECT tok, count(*) AS c FROM u GROUP BY tok) " +
        "SELECT CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab_size, " +
        "count(CASE WHEN c = 1 THEN 1 END) AS n_hapax, " +
        "CAST((count(CASE WHEN c = 1 THEN 1 END) * 1000000) // count(*) AS BIGINT) AS hapax_ppm, " +
        "CAST((CAST(count(*) AS HUGEINT) * 1000000) // sum(c) AS BIGINT) AS ttr_ppm FROM c"),

    // DuckDB `//` TRUNCATES negatives while the engine's intDiv FLOORS, so
    // the (negative) slope division mirrors the pmod floor form explicitly
    "vocab_zipf" ->
      (s"WITH t AS (SELECT $sqlToks AS toks FROM documents), " +
        "u AS (SELECT unnest(toks) AS tok FROM t), " +
        "c AS (SELECT tok, count(*) AS c FROM u GROUP BY tok), " +
        "b AS (SELECT CAST(len(bin(c)) AS BIGINT) AS x, count(*) AS n_types FROM c GROUP BY 1), " +
        "p AS (SELECT x, n_types, CAST(len(bin(n_types)) AS BIGINT) AS y FROM b), " +
        // COALESCEs: a zero-token corpus must yield (0, 0, 0) like the
        // engine's coalesced sums, not NULLs
        "a AS (SELECT count(*) AS n, CAST(COALESCE(sum(n_types), 0) AS BIGINT) AS vocab, " +
        "CAST(COALESCE(sum(x), 0) AS BIGINT) AS sx, CAST(COALESCE(sum(y), 0) AS BIGINT) AS sy, " +
        "CAST(COALESCE(sum(x*y), 0) AS BIGINT) AS sxy, CAST(COALESCE(sum(x*x), 0) AS BIGINT) AS sxx FROM p), " +
        "sel AS (SELECT n, vocab, CAST(n*sxy - sx*sy AS HUGEINT) * 1000000 AS num, " +
        "CAST(n*sxx - sx*sx AS HUGEINT) AS den FROM a) " +
        "SELECT n AS n_buckets, vocab AS vocab_size, " +
        "CAST(CASE WHEN den = 0 THEN 0 " +
        "ELSE (num - (((num % den) + den) % den)) // den END AS BIGINT) AS slope_ppm " +
        "FROM sel"),

    // same closed-form waterfill: sort by mass asc, largest affordable
    // freeze point (P_k + (n-k)·c_k ≤ B), level = (B − P_k) // (n − k)
    // (all operands non-negative there, so `//` ≡ floor)
    "corpus_waterfill" ->
      (s"WITH d AS (SELECT source, $sqlToks AS toks FROM documents), " +
        "c AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM d GROUP BY 1), " +
        "r AS (SELECT source, n_tokens, " +
        "CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS k, " +
        "CAST(sum(n_tokens) OVER (ORDER BY n_tokens, source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pref FROM c), " +
        "t AS (SELECT count(*) AS n, CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS total, " +
        "COALESCE(max(n_tokens), 0) AS mx FROM c), " +
        s"ks AS (SELECT COALESCE(max(k), 0) AS kstar FROM r, t WHERE pref + (n - k) * n_tokens <= $waterfillBudgetTokens), " +
        "ps AS (SELECT COALESCE((SELECT pref FROM r, ks WHERE r.k = ks.kstar), 0) AS prefstar FROM ks), " +
        s"lv AS (SELECT CASE WHEN t.total <= $waterfillBudgetTokens THEN t.mx " +
        s"ELSE CAST(($waterfillBudgetTokens - ps.prefstar) // (t.n - ks.kstar) AS BIGINT) END AS level_tokens " +
        "FROM t, ks, ps) " +
        "SELECT source, n_tokens, level_tokens, " +
        "LEAST(n_tokens, level_tokens) AS alloc_tokens, " +
        "CAST(CASE WHEN n_tokens > level_tokens THEN 1 ELSE 0 END AS BIGINT) AS capped " +
        "FROM r, lv ORDER BY source"),

    // same recursive-CC prefix as dedup_groups, then group-keyed buckets
    "corpus_leak_split" ->
      (s"$ccCompPrefixSql, " +
        "g AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS group_id " +
        "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id), " +
        "bk AS (SELECT doc_id, group_id, " +
        "('0x' || substring(md5(CAST(group_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket FROM g) " +
        "SELECT doc_id, group_id, bucket, " +
        "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM bk"),

    // same CC prefix; argmax = max size then min id among the maxima
    "corpus_canonical" ->
      (s"$ccCompPrefixSql, " +
        "j AS (SELECT c.comp AS group_id, d.doc_id, d.n_chars FROM comp c " +
        "JOIN documents d ON d.doc_id = c.id), " +
        "g AS (SELECT group_id, count(*) AS group_size, " +
        "max(n_chars) AS keep_size FROM j GROUP BY 1) " +
        "SELECT g.group_id, g.group_size, g.keep_size, " +
        "min(j.doc_id) AS keep_id FROM g JOIN j " +
        "ON j.group_id = g.group_id AND j.n_chars = g.keep_size " +
        "GROUP BY 1, 2, 3"),

    // subword proxy = the same three-alternative regex; ppm division only
    // when words exist
    "text_fertility" ->
      (s"WITH t AS (SELECT lang AS grp, CAST(len($sqlToks) AS BIGINT) AS w, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS b " +
        "FROM documents) " +
        "SELECT grp, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS n_words, " +
        "CAST(sum(b) AS BIGINT) AS n_subwords, " +
        "CAST(CASE WHEN sum(w) > 0 THEN (sum(CAST(b AS HUGEINT)) * 1000000) // sum(CAST(w AS HUGEINT)) " +
        "ELSE 0 END AS BIGINT) AS fertility_ppm FROM t GROUP BY grp"),

    // one LEFT JOIN + conditional count per FK edge (parents are PKs, so
    // the join is row-preserving); NULL FKs count as orphans
    "integrity_report" -> {
      def arm(name: String, child: String, fk: String, parent: String,
              pk: String) =
        s"SELECT '$name' AS fk_name, count(*) AS n_rows, " +
          s"count(CASE WHEN p.$pk IS NULL THEN 1 END) AS n_orphans, " +
          s"CASE WHEN count(*) > 0 THEN (count(CASE WHEN p.$pk IS NULL THEN 1 END) * 1000000) // count(*) " +
          s"ELSE 0 END AS orphan_ppm " +
          s"FROM $child c LEFT JOIN $parent p ON c.$fk = p.$pk"
      Seq(
        arm("lineitem.l_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        arm("lineitem.l_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        arm("lineitem.l_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        arm("orders.o_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        arm("customer.c_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
        arm("supplier.s_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
        arm("nation.n_regionkey", "nation", "n_regionkey", "region", "r_regionkey"))
        .mkString(" UNION ALL ")
    },

    // the ALL-quantifier as a per-order conditional count equality
    "q4_fill_rate" ->
      (s"WITH li AS (SELECT l_orderkey, count(*) AS n, " +
        s"count(CASE WHEN CAST(l_shipdate AS DATE) <= DATE '$q3Date' THEN 1 END) AS ok " +
        "FROM lineitem GROUP BY 1), " +
        "f AS (SELECT o_orderpriority, CASE WHEN n = ok THEN 1 ELSE 0 END AS fl " +
        "FROM orders JOIN li ON o_orderkey = l_orderkey) " +
        "SELECT o_orderpriority, count(*) AS n_orders, " +
        "CAST(sum(fl) AS BIGINT) AS n_fully_shipped, " +
        "CAST((sum(CAST(fl AS HUGEINT)) * 1000000) // count(*) AS BIGINT) AS fill_ppm " +
        "FROM f GROUP BY 1"),

    // per-row floor to integer µ BEFORE the sum (the one multiply chain is
    // bit-identical IEEE in both engines); total-order top-10
    "q3_shipping" ->
      ("SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date, " +
        "o_orderpriority, " +
        "CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000) AS HUGEINT)) AS BIGINT) AS revenue_us " +
        "FROM customer, orders, lineitem " +
        s"WHERE c_mktsegment = '$q3Segment' AND c_custkey = o_custkey " +
        "AND l_orderkey = o_orderkey " +
        s"AND CAST(o_orderdate AS DATE) < DATE '$q3Date' " +
        s"AND CAST(l_shipdate AS DATE) > DATE '$q3Date' " +
        "GROUP BY 1, 2, 3 ORDER BY revenue_us DESC, l_orderkey LIMIT 10"),

    // distinct 5-token windows → md5-prefix 60-bit keys (sqlMd5Long, the
    // Md5Hasher twin) → doc-frequency ≥ 2 = shared; per-doc counts from
    // one left join, exactly like the engine's plan
    "dedup_substring" ->
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
        "FROM w b LEFT JOIN hits USING (doc_id)"),

    // paragraphs: blank-line segments, 40-token block fallback, md5 of
    // the space-joined block — the identical slicing the engine codegens
    "dedup_paragraph" ->
      (s"WITH $sqlParagraphFps, " +
        "shared AS (SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) >= 2), " +
        "hits AS (SELECT f.doc_id, count(*) AS n_dup FROM fps f JOIN shared s ON f.fp = s.fp GROUP BY 1), " +
        "tot AS (SELECT doc_id, count(*) AS n_par FROM fps GROUP BY 1) " +
        "SELECT t.doc_id, CAST(n_par AS BIGINT) AS n_paragraphs, " +
        "CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_paragraphs, " +
        "CAST((COALESCE(n_dup, 0) * 1000000) // n_par AS BIGINT) AS dup_share_ppm " +
        "FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id"),

    "dedup_paragraph_prov" ->
      (s"WITH $sqlParagraphFps " +
        "SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_occurrences, " +
        "CAST(min(doc_id) AS BIGINT) AS first_doc_id, " +
        "CAST(max(doc_id) AS BIGINT) AS last_doc_id " +
        "FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) >= 2"),

    // CDC: boundary after token i when md5Long(3-gram ending at i) % 16
    // = 0; chunks = spans between boundaries; shared = chunk fingerprint
    // in ≥ 2 distinct docs — the same per-row slicing the engine codegens
    "dedup_cdc" ->
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
        "FROM (SELECT doc_id FROM documents) d2 LEFT JOIN per USING (doc_id)"),

    // exact-substring runs: same positioned windows keyed by FULL md5,
    // occurrence (not doc) counts, then textbook island detection over
    // duplicated window starts — gap > 5 opens a new run; run_len =
    // last_start − first_start + 5 (union of length-5 intervals)
    "dedup_substring_exact" ->
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
        "count(*) AS n_dup_windows FROM r GROUP BY doc_id, run"),

    // positioned windows → shared-window doc-frequency set → covered
    // position sets (range(p, p+5), end-exclusive ≡ the engine's
    // sequence(p, p+4)) → positional token filter, rejoined on ' '
    "corpus_strip_spans" ->
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "wins AS (SELECT doc_id, i - 1 AS p, " +
        s"${sqlMd5Long("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]")} AS h " +
        "FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM t)), " +
        "shared AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins) GROUP BY h HAVING count(*) >= 2), " +
        "cov AS (SELECT doc_id, list_distinct(flatten(list(range(p, p + 5)))) AS cv " +
        "FROM wins JOIN shared USING (h) GROUP BY doc_id) " +
        "SELECT t.doc_id, " +
        // COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
        // array_join([]) is '' — fully-stripped docs must agree
        "COALESCE(array_to_string(list_filter(list_transform(range(1, len(toks) + 1), " +
        "j -> CASE WHEN list_contains(COALESCE(cv, []), j - 1) THEN NULL ELSE toks[j] END), " +
        "x -> x IS NOT NULL), ' '), '') AS clean_text, " +
        "CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CAST(len(COALESCE(cv, [])) AS BIGINT) AS n_removed " +
        "FROM t LEFT JOIN cov USING (doc_id)"),

    "dedup_embedding_lsh" -> rhpLshOracleSql,

    "dedup_minhash_lsh" -> minhashLshOracleSql,

    "dedup_eval_report" -> dedupEvalOracleSql,

    // 3 unrolled peel rounds over the shared jaccard CTE
    "graph_kcore" -> kcoreOracleSql,

    "graph_ktruss" -> ktrussOracleSql,

    "sketch_kmv_distinct" ->
      (sqlKmvKm(256) +
        s" SELECT source, CAST(len(kv) AS BIGINT) AS n_kept, " +
        s"${sqlKmvEst("kv", 256)} AS est_distinct FROM km"),

    // the whole-corpus sketch computed DIRECTLY — equality with the
    // engine's merged-snapshot path is the KMV lossless roll-up law
    "sketch_kmv_delta" ->
      (sqlKmvKm(256) +
        s" SELECT source, CAST(len(kv) AS BIGINT) AS n_kept, " +
        s"${sqlKmvEst("kv", 256)} AS est_distinct FROM km"),

    "sketch_kmv_intersect" ->
      (sqlKmvKm(256) +
        ", pr AS (SELECT a.source AS ga, b.source AS gb, " +
        "a.kv AS kva, b.kv AS kvb FROM km a JOIN km b ON a.source < b.source), " +
        "u AS (SELECT ga, gb, kva, kvb, " +
        "list_sort(list_distinct(kva || kvb))[1:256] AS kvu FROM pr), " +
        "est AS (SELECT ga, gb, kvu, " +
        s"${sqlKmvEst("kvu", 256)} AS est_union, " +
        "len(list_filter(kvu, x -> list_contains(kva, x) AND " +
        "list_contains(kvb, x))) AS n_common FROM u) " +
        "SELECT ga, gb, est_union, CAST(n_common AS BIGINT) AS n_common, " +
        "CAST(floor(CAST(n_common AS DOUBLE) * CAST(est_union AS DOUBLE) / " +
        "CAST(len(kvu) AS DOUBLE)) AS BIGINT) AS est_intersect, " +
        "CAST(floor(CAST(n_common AS DOUBLE) * CAST(1000000 AS DOUBLE) / " +
        "CAST(len(kvu) AS DOUBLE)) AS BIGINT) AS jaccard_ppm FROM est"),

    "graph_communities" -> lpaOracleSql,

    // fk discovery: legs generated from the SAME candidate list
    "schema_fk_discovery" -> {
      val legs = fkCandidates.map { case (ct, cc, pt, pc) =>
        s"SELECT '$ct.$cc->$pt.$pc' AS candidate, " +
          s"(SELECT count(DISTINCT $cc) FROM $ct) AS n_child_distinct, " +
          s"(SELECT count(DISTINCT $pc) FROM $pt) AS n_parent_distinct, " +
          s"(SELECT count(*) FROM $pt) AS parent_rows, " +
          s"(SELECT count(*) FROM (SELECT DISTINCT $cc AS k FROM $ct) c " +
          s"JOIN (SELECT DISTINCT $pc AS k FROM $pt) p USING (k)) AS n_matched"
      }
      "SELECT candidate, n_child_distinct, n_parent_distinct, parent_rows, " +
        "n_matched, CAST((n_matched * 1000000) // greatest(n_child_distinct, 1) " +
        "AS BIGINT) AS inclusion_ppm, " +
        "CAST(CASE WHEN n_matched = n_child_distinct AND " +
        "n_parent_distinct = parent_rows THEN 1 ELSE 0 END AS BIGINT) AS looks_fk " +
        s"FROM (${legs.mkString(" UNION ALL ")})"
    },

    // column profiler: one scalar leg per column, same µ-floor / epoch-
    // day domains; string column bounds are NULL on both sides
    "schema_column_profile" ->
      ("SELECT 'o_orderkey' AS col_name, count(*) AS n_rows, count(*) - count(o_orderkey) AS n_null, " +
        "count(DISTINCT o_orderkey) AS n_distinct, CAST(min(o_orderkey) AS BIGINT) AS min_v, CAST(max(o_orderkey) AS BIGINT) AS max_v FROM orders " +
        "UNION ALL SELECT 'o_custkey', count(*), count(*) - count(o_custkey), count(DISTINCT o_custkey), CAST(min(o_custkey) AS BIGINT), CAST(max(o_custkey) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'o_totalprice_us', count(*), count(*) - count(o_totalprice), count(DISTINCT CAST(floor(o_totalprice * 1000000) AS BIGINT)), CAST(min(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS BIGINT), CAST(max(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'o_orderdate_day', count(*), count(*) - count(o_orderdate), count(DISTINCT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000), CAST(min(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000) AS BIGINT), CAST(max(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM orders"),

    // repeat rate: day floors, span // (n−1), exact floor-means
    "orders_repeat_rate" ->
      ("WITH o AS (SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS d " +
        "FROM orders), " +
        "per AS (SELECT o_custkey, count(*) AS n_orders, " +
        "max(d) - min(d) AS span FROM o GROUP BY 1), " +
        "g AS (SELECT n_orders, CASE WHEN n_orders > 1 THEN " +
        "(span * 1000000) // (n_orders - 1) ELSE 0 END AS gap FROM per) " +
        "SELECT n_orders, count(*) AS n_customers, " +
        "CAST(CAST(sum(gap) AS HUGEINT) // count(*) AS BIGINT) AS mean_gap_days_us, " +
        "CAST(min(gap) AS BIGINT) AS min_gap_days_us, " +
        "CAST(max(gap) AS BIGINT) AS max_gap_days_us " +
        "FROM g GROUP BY n_orders"),

    // sweep: the pair pipeline once at the loosest threshold, UNION ALL
    // legs with the same double-literal comparisons
    "dedup_threshold_sweep" -> {
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
    },

    // VAD segments: frame energies recomputed from the generator sample
    // formula, same threshold and gaps-and-islands grouping
    "media_audio_segments" ->
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
        "FROM g GROUP BY id, grp"),

    // modularity over the same LPA partition CTE: per-community edge and
    // degree tallies, the exact (4·m·e_c − d_c²) numerators in HUGEINT,
    // signed pmod floors for the ppm divisions
    "graph_modularity" ->
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
        "FROM cells CROSS JOIN qt"),

    // BFS rounds unrolled as frontier CTEs (the kcore/pagerank pattern);
    // each frontier excludes everything reached earlier
    "graph_bfs" ->
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
        "UNION ALL SELECT node, 3 FROM f3"),

    // bin() drops leading zeros in both engines, so len(bin(degree)) is
    // the shared floor(log2)+1 bucket id
    "graph_degree_hist" ->
      (s"WITH p AS ($jaccardPairsOracleSql), " +
        "e AS (SELECT DISTINCT least(id_a, id_b) AS u, " +
        "greatest(id_a, id_b) AS v FROM p WHERE id_a <> id_b), " +
        "deg AS (SELECT node, count(*) AS degree FROM " +
        "(SELECT unnest([u, v]) AS node FROM e) GROUP BY node) " +
        "SELECT CAST(len(bin(degree)) AS BIGINT) AS bucket, " +
        "count(*) AS n_nodes, min(degree) AS min_degree, " +
        "max(degree) AS max_degree FROM deg GROUP BY 1"),

    "dedup_rate_by_source" ->
      (s"WITH p AS ($jaccardPairsOracleSql), " +
        "dup AS (SELECT DISTINCT unnest([id_a, id_b]) AS doc_id FROM p) " +
        "SELECT d.source, count(*) AS n_docs, " +
        "count(dup.doc_id) AS n_dup_docs, " +
        "(count(dup.doc_id) * 1000000) // count(*) AS dup_ppm " +
        "FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id GROUP BY 1"),

    // the Lloyd rounds unrolled as (assign-dist, argmin, floor-mean
    // centroid) CTE triples over the quantized explode; final assignment
    // reports per-cell size + exact inertia
    "embedding_kmeans" -> {
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
    },

    // integer epochs forecast; share CASE mirrors the Scala map
    "corpus_epochs" -> {
      val caseArms = epochsShares
        .map { case (s, p) => s"WHEN stratum = '$s' THEN $p" }
        .mkString(" ")
      s"WITH t AS (SELECT lang AS stratum, CAST(len($sqlToks) AS BIGINT) AS nt FROM documents), " +
        "a AS (SELECT stratum, sum(CAST(nt AS HUGEINT)) AS tok FROM t GROUP BY 1), " +
        s"b AS (SELECT stratum, CAST(tok AS BIGINT) AS n_tokens, " +
        s"CAST(CASE $caseArms ELSE $epochsDefaultShare END AS BIGINT) AS share_pct FROM a), " +
        s"c AS (SELECT *, ($epochsBudgetTokens * share_pct) // 100 AS target_tokens FROM b) " +
        "SELECT stratum, n_tokens, share_pct, CAST(target_tokens AS BIGINT) AS target_tokens, " +
        "CAST(CASE WHEN target_tokens > 0 THEN (CAST(n_tokens AS HUGEINT) * 1000000) // target_tokens " +
        "ELSE 0 END AS BIGINT) AS epochs_ppm FROM c"
    },

    // per-label floor-mean centroids, then pure-integer pair distances
    "embedding_class_sep" ->
      ("WITH e AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, " +
        "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS v_us FROM embeddings), " +
        "m AS (SELECT label, dim, CAST((sum(CAST(v_us AS HUGEINT)) - " +
        "((sum(CAST(v_us AS HUGEINT)) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS mu_us " +
        "FROM e GROUP BY 1, 2) " +
        "SELECT a.label AS label_a, b.label AS label_b, " +
        "CAST(sum(CAST(a.mu_us - b.mu_us AS HUGEINT) * (a.mu_us - b.mu_us)) AS BIGINT) AS dist2_us2 " +
        "FROM m a JOIN m b ON a.dim = b.dim AND a.label < b.label " +
        "GROUP BY 1, 2"),

    "dedup_source_matrix" ->
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
        "FROM cells GROUP BY source_a, source_b"),

    // same left-associative repeated-multiplication expansion of both
    // powers — never pow(), whose libm rounding differs across engines
    "dedup_lsh_curve" -> {
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
    },

    // A-Res keys recomputed exactly: same 48-bit md5 u, same ln/w key
    "corpus_weighted_sample" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS weight FROM documents
        |WHERE n_chars > 0
        |ORDER BY ln((('0x' || substring(md5(doc_id::VARCHAR), 1, 12))::BIGINT + 0.5)
        |  / 281474976710656.0) / n_chars DESC, doc_id
        |LIMIT 50""".stripMargin,

    // RFM: quintile thresholds are type-1 order statistics (k = ⌈q·n⌉,
    // materialized by rank — the engine bisects to the same value) over
    // the exact-integer metrics; scores = 1 + #thresholds strictly below
    "events_rfm" ->
      """WITH u AS (SELECT user_id,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS rec,
        |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS freq,
        |  CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
        |           AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS mon
        |  FROM events GROUP BY user_id),
        |nn AS (SELECT count(*) AS n FROM u),
        |q(q_ppm) AS (VALUES (200000), (400000), (600000), (800000)),
        |kk AS (SELECT q_ppm, greatest(1, (q_ppm * n + 999999) // 1000000) AS k FROM q, nn),
        |rr AS (SELECT rec AS v, row_number() OVER (ORDER BY rec) AS rn FROM u),
        |rf AS (SELECT freq AS v, row_number() OVER (ORDER BY freq) AS rn FROM u),
        |rm AS (SELECT mon AS v, row_number() OVER (ORDER BY mon) AS rn FROM u),
        |t AS (SELECT
        |  max(CASE WHEN q_ppm = 200000 THEN rr.v END) AS r0,
        |  max(CASE WHEN q_ppm = 400000 THEN rr.v END) AS r1,
        |  max(CASE WHEN q_ppm = 600000 THEN rr.v END) AS r2,
        |  max(CASE WHEN q_ppm = 800000 THEN rr.v END) AS r3,
        |  max(CASE WHEN q_ppm = 200000 THEN rf.v END) AS f0,
        |  max(CASE WHEN q_ppm = 400000 THEN rf.v END) AS f1,
        |  max(CASE WHEN q_ppm = 600000 THEN rf.v END) AS f2,
        |  max(CASE WHEN q_ppm = 800000 THEN rf.v END) AS f3,
        |  max(CASE WHEN q_ppm = 200000 THEN rm.v END) AS m0,
        |  max(CASE WHEN q_ppm = 400000 THEN rm.v END) AS m1,
        |  max(CASE WHEN q_ppm = 600000 THEN rm.v END) AS m2,
        |  max(CASE WHEN q_ppm = 800000 THEN rm.v END) AS m3
        |  FROM kk JOIN rr ON rr.rn = kk.k JOIN rf ON rf.rn = kk.k
        |          JOIN rm ON rm.rn = kk.k)
        |SELECT user_id,
        |  1 + (rec > r0)::BIGINT + (rec > r1)::BIGINT + (rec > r2)::BIGINT + (rec > r3)::BIGINT AS r_score,
        |  1 + (freq > f0)::BIGINT + (freq > f1)::BIGINT + (freq > f2)::BIGINT + (freq > f3)::BIGINT AS f_score,
        |  1 + (mon > m0)::BIGINT + (mon > m1)::BIGINT + (mon > m2)::BIGINT + (mon > m3)::BIGINT AS m_score,
        |  (1 + (rec > r0)::BIGINT + (rec > r1)::BIGINT + (rec > r2)::BIGINT + (rec > r3)::BIGINT)::VARCHAR
        |   || '-' || (1 + (freq > f0)::BIGINT + (freq > f1)::BIGINT + (freq > f2)::BIGINT + (freq > f3)::BIGINT)::VARCHAR
        |   || '-' || (1 + (mon > m0)::BIGINT + (mon > m1)::BIGINT + (mon > m2)::BIGINT + (mon > m3)::BIGINT)::VARCHAR AS segment
        |FROM u CROSS JOIN t""".stripMargin,

    // RAKE: same islands (pos − row_number), same DECIMAL(27,12)-summed
    // deg/freq scores; the stopword IN list interpolates from
    // Rake.DefaultStops so the two sides cannot drift
    "text_keyphrases" -> {
      val stops = Rake.DefaultStops.map(s => s"'$s'").mkString(", ")
      s"WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "p0 AS (SELECT doc_id, unnest(toks) AS tok, " +
        "generate_subscripts(toks, 1) - 1 AS pos FROM d), " +
        s"ns AS (SELECT * FROM p0 WHERE tok NOT IN ($stops)), " +
        "isl AS (SELECT doc_id, tok, pos, pos - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS g FROM ns), " +
        "ph AS (SELECT doc_id, g, list(tok ORDER BY pos) AS words, " +
        "count(*) AS len, array_to_string(list(tok ORDER BY pos), ' ') AS phrase " +
        "FROM isl GROUP BY doc_id, g), " +
        "wo AS (SELECT unnest(words) AS tok, len FROM ph), " +
        "ws AS (SELECT tok, count(*) AS freq, CAST(sum(len) AS BIGINT) AS deg " +
        "FROM wo GROUP BY tok), " +
        "px AS (SELECT ph.doc_id, ph.g, ph.phrase, unnest(ph.words) AS tok FROM ph), " +
        "sc AS (SELECT doc_id, g, phrase, " +
        "sum(CAST(deg::DOUBLE / freq AS DECIMAL(27,12))) AS s " +
        "FROM px JOIN ws USING (tok) GROUP BY doc_id, g, phrase), " +
        "agg AS (SELECT phrase, count(*) AS n_occurrences, max(s) AS s " +
        "FROM sc GROUP BY phrase) " +
        "SELECT phrase, n_occurrences, round(CAST(s AS DOUBLE), 6) AS score " +
        "FROM agg ORDER BY s DESC, phrase LIMIT 20"
    },

    "events_transitions" ->
      """WITH s AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev AS from_type, event_type AS to_type,
        |      count(*) AS n_steps FROM s WHERE prev IS NOT NULL
        |      GROUP BY prev, event_type),
        |t AS (SELECT from_type, CAST(sum(n_steps) AS BIGINT) AS tot
        |      FROM c GROUP BY from_type)
        |SELECT from_type, to_type, n_steps,
        |  (1000000 * n_steps) // tot AS prob_ppm
        |FROM c JOIN t USING (from_type)""".stripMargin,

    // triple emission as a 3-way ordered self-join over capped baskets;
    // cohesion via HUGEINT // against the least pair support
    "orders_basket_triples" ->
      ("WITH bi AS (SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem), " +
        "sz AS (SELECT bid FROM bi GROUP BY bid HAVING count(*) <= 1000), " +
        "b2 AS (SELECT bi.* FROM bi JOIN sz USING (bid)), " +
        "p AS (SELECT x.item AS a, y.item AS b, count(*) AS ps FROM b2 x " +
        "JOIN b2 y ON x.bid = y.bid AND x.item < y.item GROUP BY 1, 2), " +
        "t AS (SELECT x.item AS a, y.item AS b, z.item AS c, count(*) AS support " +
        "FROM b2 x JOIN b2 y ON x.bid = y.bid AND x.item < y.item " +
        "JOIN b2 z ON y.bid = z.bid AND y.item < z.item GROUP BY 1, 2, 3 " +
        s"HAVING count(*) >= $tripleMinSupport), " +
        "j AS (SELECT t.*, pab.ps AS pab, pac.ps AS pac, pbc.ps AS pbc FROM t " +
        "JOIN p pab ON t.a = pab.a AND t.b = pab.b " +
        "JOIN p pac ON t.a = pac.a AND t.c = pac.b " +
        "JOIN p pbc ON t.b = pbc.a AND t.c = pbc.b) " +
        "SELECT a AS item_a, b AS item_b, c AS item_c, support, " +
        "least(pab, pac, pbc) AS min_pair_support, " +
        "CAST((CAST(support AS HUGEINT) * 1000000) // least(pab, pac, pbc) AS BIGINT) AS cohesion_ppm " +
        s"FROM j ORDER BY support DESC, a, b, c LIMIT $tripleTopK"),

    "orders_basket_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS bid, l_partkey AS item
        |           FROM lineitem),
        |n AS (SELECT count(DISTINCT bid) AS nb FROM b),
        |ci AS (SELECT item, count(*) AS c FROM b GROUP BY item),
        |b2 AS (SELECT b.* FROM b JOIN (SELECT bid FROM b GROUP BY bid
        |       HAVING count(*) <= 1000) ok USING (bid)),
        |p AS (SELECT a.item AS item_a, c.item AS item_b, count(*) AS support
        |      FROM b2 a JOIN b2 c ON a.bid = c.bid AND a.item < c.item
        |      GROUP BY item_a, item_b HAVING count(*) >= 2)
        |SELECT item_a, item_b, support,
        |  CAST((1000000::HUGEINT * nb * support) // (ca.c::HUGEINT * cb.c)
        |       AS BIGINT) AS lift_ppm
        |FROM p JOIN ci ca ON p.item_a = ca.item
        |       JOIN ci cb ON p.item_b = cb.item CROSS JOIN n
        |ORDER BY support DESC, item_a, item_b LIMIT 100""".stripMargin,

    "events_ab_metrics" ->
      """WITH u AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |  count(*) AS n FROM events GROUP BY user_id),
        |a AS (SELECT ('0x' || substring(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2 AS arm,
        |      conv, n FROM u)
        |SELECT arm, count(*) AS n_users, CAST(sum(conv) AS BIGINT) AS n_converters,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  (1000000 * CAST(sum(conv) AS BIGINT)) // count(*) AS conv_ppm
        |FROM a GROUP BY arm""".stripMargin,

    // CUPED: identical exact decimal sums, identical IEEE expression
    // tree for theta / means, identical final floors
    "events_ab_cuped" ->
      """WITH pu AS (SELECT user_id,
        |  COALESCE(sum(CASE WHEN event_type = 'view' THEN CAST(floor(value * 1000000) AS DECIMAL(18,0)) END), 0) AS x,
        |  COALESCE(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(value * 1000000) AS DECIMAL(18,0)) END), 0) AS y,
        |  ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
        |  FROM events GROUP BY user_id),
        |g AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(x) AS DOUBLE) AS sx,
        |  CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x * y) AS DOUBLE) AS sxy,
        |  CAST(sum(x * x) AS DOUBLE) AS sxx FROM pu),
        |th AS (SELECT CASE WHEN sxx - sx * sx / n > 0
        |  THEN (sxy - sx * sy / n) / (sxx - sx * sx / n) ELSE 0 END AS theta,
        |  sx / n AS xbar FROM g),
        |a AS (SELECT arm, count(*) AS n_users, CAST(sum(x) AS DOUBLE) AS asx,
        |  CAST(sum(y) AS DOUBLE) AS asy FROM pu GROUP BY arm)
        |SELECT arm, n_users,
        |  CAST(floor(asy / n_users) AS BIGINT) AS mean_y_us,
        |  CAST(floor(asy / n_users - theta * (asx / n_users - xbar)) AS BIGINT) AS adj_mean_y_us
        |FROM a, th""".stripMargin,

    "events_paths" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |           FROM events),
        |s1 AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |         OR ts_us - lag(ts_us) OVER w > $pathGapUs THEN 1 ELSE 0 END AS is_new
        |       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s2 AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |         ROWS UNBOUNDED PRECEDING) AS sid FROM s1),
        |st AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid
        |         ORDER BY ts_us, event_id) AS rk FROM s2),
        |p AS (SELECT user_id, sid,
        |        string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        |      FROM st WHERE rk <= $pathMaxLen GROUP BY user_id, sid),
        |c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY path
        |      ORDER BY n_sessions DESC, path LIMIT $pathTopK)
        |SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INTEGER) AS rank,
        |  path, n_sessions FROM c""".stripMargin,

    // the decay is a literal right shift of the same ppm weight table;
    // parenthesized (DuckDB >> binds below =) and 63-guarded both sides
    "events_decay" ->
      (s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |  CASE ${decayWeights.map { case (ty, p) => s"WHEN event_type = '$ty' THEN ${p}" }.mkString(" ")}
        |       ELSE 0 END AS w FROM events),
        |r AS (SELECT max(ts_us) AS ref_us FROM e),
        |c AS (SELECT user_id, w, (r.ref_us - ts_us) // $decayHalfLifeUs AS age_hl
        |      FROM e, r)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN age_hl < 63 THEN (w >> age_hl) ELSE 0 END) AS BIGINT) AS score_ppm,
        |  min(age_hl) AS last_age_hl
        |FROM c GROUP BY user_id""").stripMargin,

    // each triangle appears once as (a, b) (b, c) (a, c) with a < b < c —
    // the id-canonical twin of the degree-ordered enumeration
    "graph_triangles" ->
      (s"WITH p AS ($jaccardPairsOracleSql), " +
        "tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c " +
        "FROM p e1 JOIN p e2 ON e2.id_a = e1.id_b " +
        "JOIN p e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b) " +
        "SELECT node, count(*) AS n_triangles FROM " +
        "(SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY node"),

    "events_multitouch" ->
      s"""WITH c AS (SELECT event_id AS touch_id, user_id, epoch_us(ts) AS tus
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS conv_id, user_id, epoch_us(ts) AS pus
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.touch_id, p.conv_id, c.tus FROM c JOIN p
        |      ON c.user_id = p.user_id AND p.pus >= c.tus
        |      AND p.pus <= c.tus + $attribWindowUs),
        |n AS (SELECT *, count(*) OVER (PARTITION BY conv_id) AS n,
        |      row_number() OVER (PARTITION BY conv_id
        |        ORDER BY tus DESC, touch_id DESC) AS rk FROM j)
        |SELECT touch_id, count(*) AS n_conversions,
        |  CAST(sum(1000000 // n + CASE WHEN rk = 1 THEN 1000000 % n ELSE 0 END)
        |       AS BIGINT) AS credit_ppm
        |FROM n GROUP BY touch_id""".stripMargin,

    "dedup_simhash" -> simhashOracleSql,

    "ann_lsh_topk" -> annLshOracleSql,

    "corpus_bitext_mine" -> bitextMineOracleSql,

    "bitext_recall_report" -> bitextRecallOracleSql,

    "ann_graph_topk" -> annGraphOracleSql,
    "ann_graph_delete" -> annGraphDeleteOracleSql,

    // KNN-Shapley unroll: same (sim DESC, nid) ranks, same pmod-floored
    // qq terms, same order-free integer suffix sums
    "embedding_knn_shapley" ->
      (s"WITH $knnShapleyCtes " +
        "SELECT nid, label, CAST(sum(value_qq) AS BIGINT) AS total_value_qq " +
        "FROM sv GROUP BY 1, 2 ORDER BY 3 DESC, 1 LIMIT 20"),

    "embedding_value_by_label" ->
      (s"WITH $knnShapleyCtes " +
        "SELECT label, count(DISTINCT nid) AS n_points, " +
        "CAST(sum(value_qq) AS BIGINT) AS total_value_qq FROM sv GROUP BY 1"),

    "ann_graph_search" -> annGraphSearchOracleSql,

    // same RHP bucket join + pair CTE as dedup_embedding_lsh, then the
    // corpus_split md5 bucket per endpoint, normalized to an unordered
    // split pair
    "corpus_semantic_leak" ->
      (rhpLshPairPrefixSql +
        ", p AS (SELECT id_a, id_b FROM s WHERE sim >= 0.4), " +
        "sp AS (SELECT id_a, id_b, " +
        "CASE WHEN ba < 80 THEN 'train' WHEN ba < 90 THEN 'val' ELSE 'test' END AS sa, " +
        "CASE WHEN bb < 80 THEN 'train' WHEN bb < 90 THEN 'val' ELSE 'test' END AS sb " +
        "FROM (SELECT id_a, id_b, " +
        "('0x' || substring(md5(CAST(id_a AS VARCHAR)), 1, 8))::BIGINT % 100 AS ba, " +
        "('0x' || substring(md5(CAST(id_b AS VARCHAR)), 1, 8))::BIGINT % 100 AS bb FROM p)) " +
        "SELECT least(sa, sb) AS split_x, greatest(sa, sb) AS split_y, " +
        "count(*) AS n_pairs, " +
        "CAST(CASE WHEN sa <> sb THEN 1 ELSE 0 END AS BIGINT) AS is_leak " +
        "FROM sp GROUP BY 1, 2, 4"),

    "dedup_embedding" ->
      ("WITH scored AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) AS sim " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b, round(sim, 6) AS sim FROM scored WHERE sim >= 0.4"),

    "embedding_quantize" ->
      ("WITH m AS (SELECT vec_id, embedding AS v, " +
        "list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma FROM embeddings) " +
        "SELECT vec_id, ma / 127.0 AS scale, " +
        "CASE WHEN ma = 0 THEN array_to_string(list_transform(v, x -> '0'), '|') " +
        "ELSE array_to_string(list_transform(v, " +
        "x -> CAST(CAST(round(x::DOUBLE / (ma / 127.0)) AS INTEGER) AS VARCHAR)), '|') " +
        "END AS q FROM m"),

    "corpus_stats" ->
      (s"WITH t AS (SELECT doc_id, toks, md5(array_to_string(toks, ' ')) AS fp " +
        s"FROM (SELECT doc_id, $sqlToks AS toks FROM documents)), " +
        "e AS (SELECT doc_id, fp, unnest(CASE WHEN len(toks) = 0 " +
        "THEN [NULL] ELSE toks END) AS tok FROM t) " +
        "SELECT count(DISTINCT doc_id) AS n_docs, count(tok) AS n_tokens, " +
        "count(DISTINCT tok) AS vocab_size, " +
        "count(DISTINCT doc_id) - count(DISTINCT fp) AS n_exact_dups FROM e"),

    // int8 round-trip corpus + full-precision queries, then brute-force
    // top-k — quantization mirrors the embedding_quantize oracle exactly
    "ann_int8_topk" ->
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
        "WHERE rn <= 5"),

    // same deterministic split as corpus_split; distinct 5-gram shingles;
    // inner join vs the DISTINCT train shingle set ≡ the engine's semi join
    "corpus_contamination" ->
      (s"WITH t0 AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "t AS (SELECT doc_id, " +
        "CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split, " +
        "list_distinct(CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks) - 3), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]) END) AS shs " +
        "FROM (SELECT doc_id, toks, " +
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b FROM t0)), " +
        "tr AS (SELECT DISTINCT unnest(shs) AS s FROM t WHERE split = 'train'), " +
        "te AS (SELECT doc_id, split, len(shs) AS n_sh, shs FROM t WHERE split <> 'train'), " +
        "ex AS (SELECT doc_id, unnest(shs) AS s FROM te), " +
        "hit AS (SELECT doc_id, count(*) AS n_hit FROM ex JOIN tr USING (s) GROUP BY doc_id) " +
        "SELECT te.doc_id, split, CAST(n_sh AS BIGINT) AS n_sh, " +
        "CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit, " +
        "round(CASE WHEN n_sh > 0 THEN COALESCE(n_hit, 0)::DOUBLE / n_sh ELSE 0.0 END, 6) AS contamination " +
        "FROM te LEFT JOIN hit USING (doc_id)"),

    // DSIR: hashed-n-gram bucket counts on target (src0) vs raw, additive
    // 0.5 smoothing, per-doc DECIMAL sum of one ln-of-ratio term — the
    // identical expression tree the engine evaluates
    "corpus_dsir" -> (dsirWeightsSql +
      "SELECT r.doc_id, COALESCE(s.n_feats, 0) AS n_feats, " +
      "COALESCE(round(CAST(s.s AS DOUBLE), 6), 0.0) AS log_weight " +
      "FROM (SELECT doc_id FROM d WHERE source <> 'src0') r " +
      "LEFT JOIN s USING (doc_id)"),

    // Gumbel top-k: key = log_weight + (-ln(-ln(u))), u from the md5 of
    // "gumbel:"||id (13 hex chars = 52 bits, exact in a double)
    "corpus_dsir_select" -> (dsirWeightsSql +
      ", w AS (SELECT r.doc_id, COALESCE(s.n_feats, 0) AS n_feats, " +
      "COALESCE(round(CAST(s.s AS DOUBLE), 6), 0.0) AS log_weight " +
      "FROM (SELECT doc_id FROM d WHERE source <> 'src0') r " +
      "LEFT JOIN s USING (doc_id)) " +
      "SELECT doc_id, n_feats, log_weight, " +
      "round(log_weight + -ln(-ln(" +
      "(('0x' || substring(md5('gumbel:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5) " +
      "/ 4503599627370496.0)), 6) AS sample_key " +
      "FROM w ORDER BY sample_key DESC, doc_id LIMIT 100"),

    // IVF with nprobe = numCells scores every (query, candidate) pair —
    // exactly the brute-force oracle
    // brute force over the SURVIVORS (vec_id % 3 <> 0): with nprobe =
    // numCells the deleted on-disk index degenerates to exactly this
    "ann_ivf_delete" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        "scored AS (SELECT q.qid, e.vec_id AS nid, " +
        "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
        "FROM embeddings e, q WHERE e.vec_id <> q.qid AND e.vec_id % 3 <> 0) " +
        "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored) " +
        "WHERE rn <= 5"),

    "ann_ivf_full" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        "scored AS (SELECT q.qid, e.vec_id AS nid, " +
        "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
        "FROM embeddings e, q WHERE e.vec_id <> q.qid) " +
        "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored) " +
        "WHERE rn <= 5"),

    "pq_encode" ->
      (s"WITH ${pqSqlCtes(4, 16, 16)} " +
        "SELECT vec_id, string_agg(CAST(j AS VARCHAR), '|' ORDER BY m) AS codes " +
        "FROM codes GROUP BY vec_id"),

    // ADC: per-(query, subspace, codeword) LUT distances, joined to each
    // candidate's codes; the per-pair sum folds in subspace order
    // (list_sum of `list(d2 ORDER BY m)`) to match the engine's
    // sequential aggregate — bit-identical doubles, not just close ones
    "ann_pq_topk" ->
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
        "WHERE rn <= 5"),

    // coarse cosine on dims 1..16 → top-20 shortlist (ties by nid) →
    // exact 64-dim cosine re-rank; folds sequential on both engines
    "ann_matryoshka_topk" ->
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
        "WHERE rn <= 5"),

    // coarse cosine in the 16-dim Achlioptas sketch (projection recomputed
    // as exact nonzero-term + chains — bit-identical to the graft_dot
    // fold) → top-20 shortlist → exact 64-dim re-rank, mirroring
    // ann_matryoshka_topk's two-stage shape
    "ann_rp_topk" ->
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
        "WHERE rn <= 5"),

    // ADC shortlist (top-20, same arithmetic as ann_pq_topk), then exact
    // cosine over only the shortlisted (qid, nid) pairs, re-ranked to top-5
    "ann_pq_rerank" ->
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
        "WHERE rn <= 5"),

    "ann_brute_topk" -> annBruteOracleSql,

    "embedding_label_noise" -> labelNoiseOracleSql,

    // same kNN CTE with the label predicate inside the corpus leg
    "ann_filtered_topk" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        "scored AS (SELECT q.qid, e.vec_id AS nid, " +
        "list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / " +
        "(sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS sim " +
        s"FROM embeddings e, q WHERE e.label = $annFilterLabel AND e.vec_id <> q.qid) " +
        "SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id, round(sim, 6) AS sim " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored) " +
        "WHERE rn <= 5"),

    "privacy_delete_impact" -> {
      def arm(name: String, tbl: String, key: String) =
        s"SELECT '$name' AS table_name, count(*) AS n_rows, " +
          "count(CASE WHEN v.vv IS NOT NULL THEN 1 END) AS n_affected, " +
          "CASE WHEN count(*) > 0 THEN (count(CASE WHEN v.vv IS NOT NULL THEN 1 END) * 1000000) // count(*) " +
          s"ELSE 0 END AS affected_ppm FROM $tbl x LEFT JOIN v ON x.$key = v.vv"
      s"WITH v AS (SELECT DISTINCT user_id AS vv FROM events WHERE user_id % $deleteListMod = 0) " +
        Seq(arm("events", "events", "user_id"),
          arm("orders", "orders", "o_custkey"),
          arm("customer", "customer", "c_custkey")).mkString(" UNION ALL ")
    },

    // the SAME driver-computed threshold table interpolates into both
    // sides (Privacy.dpNoiseTable — no drift possible); the hash key is
    // event_type || salt exactly as the engine concatenates it
    "privacy_dp_counts" -> {
      val table = Privacy.dpNoiseTable(dpEpsPpm)
      val cases = table.init
        .map { case (t, j) => s"WHEN u48 < $t THEN $j" }.mkString(" ")
      s"WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1), " +
        s"u AS (SELECT event_type, n, ('0x' || substring(md5(event_type || chr(1) || '$dpSalt'), 1, 12))::BIGINT AS u48 FROM c) " +
        s"SELECT event_type, CAST(greatest(n + CASE $cases ELSE ${table.last._2} END, 0) AS BIGINT) AS noisy_count FROM u"
    },

    // domain mode: LEFT JOIN from the public nation dimension so absent
    // keys carry a noised zero — the identical threshold-table CASE
    "privacy_dp_counts_domain" -> {
      val table = Privacy.dpNoiseTable(dpEpsPpm)
      val cases = table.init
        .map { case (t, j) => s"WHEN u48 < $t THEN $j" }.mkString(" ")
      s"WITH c AS (SELECT n_name, count(*) AS n FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE c_acctbal < 0 GROUP BY 1), " +
        "d AS (SELECT DISTINCT n_name FROM nation), " +
        "j AS (SELECT d.n_name, COALESCE(c.n, 0) AS n FROM d LEFT JOIN c USING (n_name)), " +
        s"u AS (SELECT n_name, n, ('0x' || substring(md5(n_name || chr(1) || '$dpSalt'), 1, 12))::BIGINT AS u48 FROM j) " +
        s"SELECT n_name, CAST(greatest(n + CASE $cases ELSE ${table.last._2} END, 0) AS BIGINT) AS noisy_count FROM u"
    },

    "privacy_pseudonymize" ->
      (s"WITH p AS (SELECT substring(md5('$pseudoSalt' || chr(1) || " +
        "CAST(user_id AS VARCHAR)), 1, 15) AS pseudonym, event_type " +
        "FROM events) " +
        "SELECT pseudonym, count(*) AS n_events, " +
        "count(DISTINCT event_type) AS n_types FROM p GROUP BY 1"),

    "ann_mmr_topk" -> mmrOracleSql,

    // recall@5 of multi-probe RHP-LSH vs exact: both sides are the same
    // deterministic pipelines as their standalone queries, so the report
    // itself is exactly checkable (nested-WITH CTEs)
    "ann_recall_report" ->
      (s"WITH ap AS ($annLshOracleSql), ex AS ($annBruteOracleSql) " +
        "SELECT ex.query_id, count(*) AS n_exact, " +
        "count(ap.neighbor_id) AS n_hit, " +
        "round(count(ap.neighbor_id) / CAST(count(*) AS DOUBLE), 6) AS recall " +
        "FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id " +
        "AND ex.neighbor_id = ap.neighbor_id GROUP BY ex.query_id"),

    // hard negatives: the labelNoise brute cosine CTE, split by label
    // match, top-1 per side by (sim DESC, nid) ≡ the engine's struct max
    "embedding_hard_negatives" ->
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
        "FROM p JOIN n ON p.qid = n.qid"),

    // same recall shape over the NN-descent graph probe rows
    "ann_graph_recall" ->
      (s"WITH ap AS ($annGraphOracleSql), ex AS ($annBruteOracleSql) " +
        "SELECT ex.query_id, count(*) AS n_exact, " +
        "count(ap.neighbor_id) AS n_hit, " +
        "round(count(ap.neighbor_id) / CAST(count(*) AS DOUBLE), 6) AS recall " +
        "FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id " +
        "AND ex.neighbor_id = ap.neighbor_id GROUP BY ex.query_id"),

    "text_tokens" ->
      (s"WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents) " +
        "SELECT doc_id, len(toks) AS n_tokens, " +
        "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish, " +
        "md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS bag_fp FROM t"),

    "text_quality" ->
      (s"WITH t AS (SELECT doc_id, text, $sqlToks AS toks, " +
        "CAST(CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END AS DOUBLE) AS safe_n FROM documents) " +
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_q, " +
        "CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / safe_n AS alpha_ratio, " +
        "length(regexp_replace(text, '[^0-9]', '', 'g')) / safe_n AS digit_ratio, " +
        "length(regexp_replace(text, '[^.,;:!?''\"()-]', '', 'g')) / safe_n AS punct_ratio, " +
        "length(regexp_replace(text, '[^ ]', '', 'g')) / safe_n AS space_ratio, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END AS avg_word_len, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','that','it','for'], x))) AS DOUBLE) / len(toks) END AS stopword_ratio_en " +
        "FROM t"),

    // same tagged gram union, same floor-ppm top shares
    "text_repetition_ngram" ->
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "g1 AS (SELECT doc_id, 1 AS n, unnest(toks) AS g FROM t), " +
        "g2 AS (SELECT doc_id, 2 AS n, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS g FROM t), " +
        "g3 AS (SELECT doc_id, 3 AS n, unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS g FROM t), " +
        "u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3), " +
        "c AS (SELECT doc_id, n, g, count(*) AS cnt FROM u GROUP BY 1, 2, 3) " +
        "SELECT doc_id, " +
        "CAST(COALESCE(sum(CASE WHEN n = 1 THEN cnt END), 0) AS BIGINT) AS n_unigrams, " +
        "CAST(COALESCE((max(CASE WHEN n = 1 THEN cnt END) * 1000000) // sum(CASE WHEN n = 1 THEN cnt END), 0) AS BIGINT) AS top_unigram_ppm, " +
        "CAST(COALESCE(sum(CASE WHEN n = 2 THEN cnt END), 0) AS BIGINT) AS n_bigrams, " +
        "CAST(COALESCE((max(CASE WHEN n = 2 THEN cnt END) * 1000000) // sum(CASE WHEN n = 2 THEN cnt END), 0) AS BIGINT) AS top_bigram_ppm, " +
        "CAST(COALESCE(sum(CASE WHEN n = 3 THEN cnt END), 0) AS BIGINT) AS n_trigrams, " +
        "CAST(COALESCE((max(CASE WHEN n = 3 THEN cnt END) * 1000000) // sum(CASE WHEN n = 3 THEN cnt END), 0) AS BIGINT) AS top_trigram_ppm " +
        "FROM c GROUP BY doc_id"),

    "text_langid" -> langIdOracleSql,

    // rule pack: same predicates, thresholds interpolated from the
    // TextFunctions constants so the two sides cannot drift
    "text_rule_screen" -> {
      val swList = TextFunctions.stopwords("en").map(w => s"'$w'").mkString(", ")
      import TextFunctions._
      "WITH d AS (SELECT source, text AS t, " + sqlToks + " AS toks FROM documents), " +
        "b AS (SELECT source, t, toks, CAST(len(toks) AS BIGINT) AS nw FROM d), " +
        "f AS (SELECT source, nw, " +
        "(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) * 1000000) " +
        "// greatest(nw, 1) AS mlus, " +
        s"len(list_filter(list_distinct(toks), x -> list_contains([$swList], x))) AS nstop, " +
        "(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1000000) " +
        "// greatest(nw, 1) AS appm, " +
        "len(t) - len(replace(t, '#', '')) AS nhash, " +
        "(len(t) - len(replace(t, '...', ''))) // 3 AS nell, " +
        "len(regexp_extract_all(t, '[.!?]+')) AS nsent, " +
        "(contains(t, '{') OR contains(t, '}')) AS fbrace, " +
        "contains(lower(t), 'lorem ipsum') AS florem, " +
        "(contains(t, '�') OR regexp_matches(t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) AS fenc " +
        "FROM b), " +
        s"g AS (SELECT source, (nw < $RuleWcLo OR nw > $RuleWcHi) AS fwc, " +
        s"(mlus < $RuleWlLoUs OR mlus > $RuleWlHiUs) AS fwl, " +
        s"(nstop < $RuleMinStop) AS fstop, (appm < $RuleAlphaMinPpm) AS falpha, " +
        s"(((nhash + nell) * 1000000) // greatest(nw, 1) > $RuleSymMaxPpm) AS fsym, " +
        s"(nsent < $RuleMinSent) AS fsent, fbrace, florem, fenc FROM f) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN fwc THEN 1 ELSE 0 END) AS BIGINT) AS r_word_count, " +
        "CAST(sum(CASE WHEN fwl THEN 1 ELSE 0 END) AS BIGINT) AS r_word_len, " +
        "CAST(sum(CASE WHEN fstop THEN 1 ELSE 0 END) AS BIGINT) AS r_stopwords, " +
        "CAST(sum(CASE WHEN falpha THEN 1 ELSE 0 END) AS BIGINT) AS r_alpha, " +
        "CAST(sum(CASE WHEN fsym THEN 1 ELSE 0 END) AS BIGINT) AS r_symbols, " +
        "CAST(sum(CASE WHEN fsent THEN 1 ELSE 0 END) AS BIGINT) AS r_sentences, " +
        "CAST(sum(CASE WHEN fbrace THEN 1 ELSE 0 END) AS BIGINT) AS r_brace, " +
        "CAST(sum(CASE WHEN florem THEN 1 ELSE 0 END) AS BIGINT) AS r_lorem, " +
        "CAST(sum(CASE WHEN fenc THEN 1 ELSE 0 END) AS BIGINT) AS r_encoding, " +
        "CAST(sum(CASE WHEN NOT fwc AND NOT fwl AND NOT fstop AND NOT falpha " +
        "AND NOT fsym THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        "FROM g GROUP BY source"
    },

    // perceptron: the same ppm features, then each round as 1-row CTEs —
    // update sums + n_mis under w_{k-1}, mean-update weights with the
    // signed pmod floor, accuracy under w_k
    "text_langid_perceptron" -> {
      val swList = TextFunctions.stopwords("en").map(w => s"'$w'").mkString(", ")
      def fdiv(a: String, b: String) =
        s"(($a - ((($a % $b) + $b) % $b)) // $b)"
      val m = "y*(w.wb*fb + w.ws*fs + w.ww*fw + w.wa*fa + w.wd*fd)"
      val base =
        s"WITH d0 AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y, " +
          s"$sqlToks AS toks, text FROM documents), " +
          "d AS (SELECT y, CAST(1000000 AS BIGINT) AS fb, " +
          s"CAST((len(list_filter(toks, t -> list_contains([$swList], t))) * 1000000) " +
          "// greatest(len(toks), 1) AS BIGINT) AS fs, " +
          "CAST((COALESCE(list_sum(list_transform(toks, t -> len(t))), 0) * 1000000) " +
          "// greatest(len(toks), 1) AS BIGINT) AS fw, " +
          "CAST((len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000000) " +
          "// greatest(len(text), 1) AS BIGINT) AS fa, " +
          "CAST((len(regexp_replace(text, '[^0-9]', '', 'g')) * 1000000) " +
          "// greatest(len(text), 1) AS BIGINT) AS fd FROM d0), " +
          "nn AS (SELECT count(*) AS n FROM d), " +
          "w0 AS (SELECT CAST(0 AS BIGINT) AS wb, CAST(0 AS BIGINT) AS ws, " +
          "CAST(0 AS BIGINT) AS ww, CAST(0 AS BIGINT) AS wa, CAST(0 AS BIGINT) AS wd), "
      val rounds = (1 to perceptronRounds).map { k =>
        val pw = s"w${k - 1}"
        s"u$k AS (SELECT " +
          Seq("fb" -> "ub", "fs" -> "us", "fw" -> "uw", "fa" -> "ua",
            "fd" -> "ud").map { case (f, u) =>
            s"CAST(sum(CASE WHEN $m <= 0 THEN y*$f ELSE 0 END) AS BIGINT) AS $u"
          }.mkString(", ") +
          s", CAST(sum(CASE WHEN $m <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nm " +
          s"FROM d CROSS JOIN $pw w), " +
          s"w$k AS (SELECT " +
          Seq(("wb", "ub"), ("ws", "us"), ("ww", "uw"), ("wa", "ua"),
            ("wd", "ud")).map { case (wc, u) =>
            s"w.$wc + ${fdiv(s"u.$u", "nn.n")} AS $wc"
          }.mkString(", ") +
          s" FROM u$k u CROSS JOIN $pw w CROSS JOIN nn), " +
          s"a$k AS (SELECT CAST(sum(CASE WHEN $m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ok " +
          s"FROM d CROSS JOIN w$k w)"
      }.mkString(", ")
      val rows = (1 to perceptronRounds).map { k =>
        s"SELECT CAST($k AS BIGINT) AS round, w.wb AS w_f_bias, " +
          "w.ws AS w_f_stop, w.ww AS w_f_awl, w.wa AS w_f_alpha, " +
          s"w.wd AS w_f_digit, u$k.nm AS n_mis, " +
          s"CAST((a$k.ok * 1000000) // nn.n AS BIGINT) AS acc_ppm " +
          s"FROM w$k w CROSS JOIN u$k CROSS JOIN a$k CROSS JOIN nn"
      }.mkString(" UNION ALL ")
      base + rounds + " " + rows
    },

    // same shared predictor body joined back to the stored labels
    "corpus_lang_confusion" ->
      (s"WITH $langIdBodySql " +
        "SELECT d.lang AS true_lang, lg.lang_guess AS pred_lang, " +
        "count(*) AS n FROM documents d JOIN lg ON d.doc_id = lg.doc_id " +
        "GROUP BY 1, 2"),

    // bridges = canonical edges minus edges whose endpoints share a
    // neighbor (wedge join + anti-join)
    "graph_bridges" ->
      (s"WITH p AS ($jaccardPairsOracleSql), " +
        "e AS (SELECT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v " +
        "FROM p WHERE id_a <> id_b GROUP BY 1, 2), " +
        "n AS (SELECT u, v FROM e UNION SELECT v, u FROM e), " +
        "sh AS (SELECT DISTINCT a.u AS u, b.u AS v FROM n a " +
        "JOIN n b ON a.v = b.v AND a.u < b.u) " +
        "SELECT e.u AS id_a, e.v AS id_b FROM e LEFT JOIN sh " +
        "ON e.u = sh.u AND e.v = sh.v WHERE sh.u IS NULL"),

    // stratified by detected language at per-stratum rates (en 80 / de 50
    // / default 20): the data-mixture sampler over the langid stratum
    "corpus_stratified" ->
      (s"WITH l AS ($langIdOracleSql) " +
        "SELECT doc_id, lang_guess AS lang FROM l " +
        "WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < " +
        "CASE lang_guess WHEN 'en' THEN 80 WHEN 'de' THEN 50 ELSE 20 END"),

    "text_redact" ->
      (s"SELECT doc_id, ${TextFunctions.redactPiiSql} AS redacted " +
        "FROM documents"),

    // the identical reversed-position doubling fold, DuckDB list ops
    // (the shared TextFunctions.luhnSumSql — one fold text for the
    // screen, the redaction twin and the entity inventory)
    "text_luhn_screen" -> {
      def luhnSumSql(x: String): String = TextFunctions.luhnSumSql(x)
      s"WITH b AS (SELECT doc_id, lpad((${sqlMd5Long("doc_id::VARCHAR")} % 1000000000000000)::VARCHAR, 15, '0') AS base FROM documents), " +
        s"c AS (SELECT doc_id, base, (10 - (${luhnSumSql("(base || '0')")} % 10)) % 10 AS chk FROM b), " +
        "d AS (SELECT doc_id, base || (CASE WHEN doc_id % 2 = 0 THEN chk ELSE (chk + 1) % 10 END)::VARCHAR AS digits FROM c), " +
        s"v AS (SELECT doc_id, (${luhnSumSql("digits")} % 10 = 0) AS valid FROM d) " +
        "SELECT count(*) AS n_candidates, " +
        "CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid, " +
        "CAST(sum(CASE WHEN valid = (doc_id % 2 = 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree FROM v"
    },

    "corpus_split" ->
      """SELECT doc_id, b AS bucket,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        |  FROM documents)
        |WHERE b < 50""".stripMargin,

    "text_repetition" ->
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "g AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS gr FROM t), " +
        "c AS (SELECT doc_id, gr, count(*) AS n FROM g GROUP BY doc_id, gr), " +
        "p AS (SELECT doc_id, sum(n) AS n_grams, " +
        "CAST(max(n) AS DOUBLE) / sum(n) AS tr, " +
        "CAST(count(*) AS DOUBLE) / sum(n) AS dr FROM c GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams, " +
        "coalesce(tr, 0.0) AS top_gram_ratio, " +
        "coalesce(dr, 0.0) AS distinct_ratio " +
        "FROM t LEFT JOIN p ON t.doc_id = p.doc_id"),

    "vocab_topk" ->
      (s"WITH t AS (SELECT unnest($sqlToks) AS token FROM documents) " +
        "SELECT token, count(*) AS n FROM t GROUP BY token " +
        "ORDER BY n DESC, token LIMIT 100"),

    // HLL registers recomputed from the same md5-prefix longs: register =
    // low 6 bits, rho = 55 − len(bin(high 54 bits)) clamped at 30, the
    // '__all' row merged register-wise, the α numerator and the
    // linear-counting table as driver-computed literals
    "vocab_hll" -> {
      val m = 64
      val lcVals = Hll.linearCountingTable(m).zipWithIndex
        .map { case (e, i) => s"(${i + 1}, $e)" }.mkString(", ")
      val aNum = Hll.alphaNumerator(m)
      s"WITH tok AS (SELECT source, unnest($sqlToks) AS term FROM documents), " +
        "dt AS (SELECT DISTINCT source, term FROM tok), " +
        s"hh AS (SELECT source, ${sqlMd5Long("term")} AS h FROM dt), " +
        "rr AS (SELECT source, (h & 63) AS reg, " +
        "least(CASE WHEN (h >> 6) = 0 THEN 55 ELSE 55 - len(bin(h >> 6)) END, 30) AS rho FROM hh), " +
        "regs AS (SELECT source, reg, max(rho) AS mr FROM rr GROUP BY source, reg), " +
        "uregs AS (SELECT * FROM regs UNION ALL " +
        "SELECT '__all' AS source, reg, max(mr) AS mr FROM regs GROUP BY reg), " +
        "dom AS (SELECT s.source, r.range AS reg FROM " +
        s"(SELECT DISTINCT source FROM uregs) s CROSS JOIN range($m) r), " +
        "filled AS (SELECT d.source, COALESCE(u.mr, 0) AS rho FROM dom d " +
        "LEFT JOIN uregs u ON u.source = d.source AND u.reg = d.reg), " +
        "fold AS (SELECT source, sum((CAST(1 AS BIGINT) << (30 - rho))) AS sm, " +
        "sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS v FROM filled GROUP BY source), " +
        s"lc(lv, le) AS (VALUES $lcVals), " +
        s"es AS (SELECT source, v, $aNum // sm AS raw_est, " +
        s"CASE WHEN ($aNum // sm) <= ${5L * m / 2} AND v > 0 THEN lc.le " +
        s"ELSE $aNum // sm END AS est FROM fold LEFT JOIN lc ON lc.lv = fold.v), " +
        "ex AS (SELECT source, count(*) AS n_exact FROM dt GROUP BY source " +
        "UNION ALL SELECT '__all', count(DISTINCT term) FROM dt) " +
        "SELECT es.source, ex.n_exact, CAST(es.v AS BIGINT) AS zero_regs, " +
        "CAST(es.raw_est AS BIGINT) AS raw_est, CAST(es.est AS BIGINT) AS est, " +
        "CAST((abs(es.est - ex.n_exact) * 1000000) // ex.n_exact AS BIGINT) AS err_ppm " +
        "FROM es JOIN ex ON es.source = ex.source"
    },

    // delta-merge law: per-snapshot register CTEs (same md5 buckets as
    // corpus_delta's split), register-wise max merge, and an independent
    // whole-corpus register set; merge_exact = full-outer register
    // compare with implicit zeros
    "vocab_hll_delta" -> {
      val m = 64
      val lcVals = Hll.linearCountingTable(m).zipWithIndex
        .map { case (e, i) => s"(${i + 1}, $e)" }.mkString(", ")
      val aNum = Hll.alphaNumerator(m)
      s"WITH tok AS (SELECT source, ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk, unnest($sqlToks) AS term FROM documents), " +
        "dts AS (SELECT DISTINCT source, term, bk < 80 AS is_old FROM tok), " +
        s"hhs AS (SELECT source, is_old, ${sqlMd5Long("term")} AS h FROM dts), " +
        "rrs AS (SELECT source, is_old, (h & 63) AS reg, " +
        "least(CASE WHEN (h >> 6) = 0 THEN 55 ELSE 55 - len(bin(h >> 6)) END, 30) AS rho FROM hhs), " +
        "snaps AS (SELECT source, is_old, reg, max(rho) AS mr FROM rrs GROUP BY 1, 2, 3), " +
        "mrg AS (SELECT source, reg, max(mr) AS mr FROM snaps GROUP BY 1, 2), " +
        // independent whole-corpus registers: from the raw rows, not the
        // per-snapshot aggregates
        "fullr AS (SELECT source, (h & 63) AS reg, max(least(CASE WHEN (h >> 6) = 0 THEN 55 ELSE 55 - len(bin(h >> 6)) END, 30)) AS mr " +
        s"FROM (SELECT source, ${sqlMd5Long("term")} AS h FROM (SELECT DISTINCT source, term FROM tok)) GROUP BY 1, 2), " +
        "cmp AS (SELECT COALESCE(a.source, f.source) AS source, COALESCE(a.mr, 0) AS ma, COALESCE(f.mr, 0) AS mf " +
        "FROM mrg a FULL OUTER JOIN fullr f ON a.source = f.source AND a.reg = f.reg), " +
        "eqq AS (SELECT source, min(CASE WHEN ma = mf THEN 1 ELSE 0 END) = 1 AS merge_exact FROM cmp GROUP BY source), " +
        "dom AS (SELECT s.source, r.range AS reg FROM " +
        s"(SELECT DISTINCT source FROM mrg) s CROSS JOIN range($m) r), " +
        "filled AS (SELECT d.source, COALESCE(u.mr, 0) AS rho FROM dom d " +
        "LEFT JOIN mrg u ON u.source = d.source AND u.reg = d.reg), " +
        "fold AS (SELECT source, sum((CAST(1 AS BIGINT) << (30 - rho))) AS sm, " +
        "sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS v FROM filled GROUP BY source), " +
        s"lc(lv, le) AS (VALUES $lcVals), " +
        s"es AS (SELECT source, v, $aNum // sm AS raw_est, " +
        s"CASE WHEN ($aNum // sm) <= ${5L * m / 2} AND v > 0 THEN lc.le " +
        s"ELSE $aNum // sm END AS est FROM fold LEFT JOIN lc ON lc.lv = fold.v) " +
        "SELECT es.source, CAST(es.v AS BIGINT) AS zero_regs, " +
        "CAST(es.raw_est AS BIGINT) AS raw_est, CAST(es.est AS BIGINT) AS est, " +
        "eqq.merge_exact FROM es JOIN eqq ON es.source = eqq.source"
    },

    // Heaps' fit: the same prefix cutoffs (⌊max·i/8⌋), first-occurrence
    // vocab counts, len(bin()) log2 buckets and pmod-floored LS slope as
    // vocab_zipf's oracle
    "vocab_heaps" ->
      (s"WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "dn AS (SELECT doc_id, len(toks) AS nt FROM d), " +
        "mx AS (SELECT max(doc_id) AS m FROM dn), " +
        s"cps AS (SELECT CAST(r.range AS BIGINT) AS cp, " +
        s"(mx.m * r.range) // $heapsCheckpoints AS cutoff_id " +
        s"FROM range(1, ${heapsCheckpoints + 1}) r CROSS JOIN mx), " +
        "tkp AS (SELECT c.cp, c.cutoff_id, CAST(sum(CASE WHEN dn.doc_id <= c.cutoff_id " +
        "THEN dn.nt ELSE 0 END) AS BIGINT) AS prefix_tokens " +
        "FROM cps c CROSS JOIN dn GROUP BY 1, 2), " +
        "fo AS (SELECT term, min(doc_id) AS fd FROM " +
        "(SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY term), " +
        "vp AS (SELECT c.cp, CAST(sum(CASE WHEN fo.fd <= c.cutoff_id " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS prefix_vocab " +
        "FROM cps c CROSS JOIN fo GROUP BY 1), " +
        "pts AS (SELECT cp, cutoff_id, prefix_tokens, prefix_vocab, " +
        "CAST(len(bin(prefix_tokens)) AS BIGINT) AS x, " +
        "CAST(len(bin(prefix_vocab)) AS BIGINT) AS y " +
        "FROM tkp JOIN vp USING (cp)), " +
        "ls AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x*y) AS sxy, sum(x*x) AS sxx FROM pts), " +
        "sl AS (SELECT CAST(n*sxy - sx*sy AS HUGEINT) * 1000000 AS num, " +
        "CAST(n*sxx - sx*sx AS HUGEINT) AS den FROM ls) " +
        "SELECT cp, CAST(cutoff_id AS BIGINT) AS cutoff_id, prefix_tokens, " +
        "prefix_vocab, CAST(CASE WHEN den = 0 THEN 0 " +
        "ELSE (num - (((num % den) + den) % den)) // den END AS BIGINT) AS slope_ppm " +
        "FROM pts CROSS JOIN sl"),

    // hashing trick: same md5-prefix longs mod D, same top-20 order
    "text_feature_hashing" ->
      (s"WITH tt AS (SELECT unnest($sqlToks) AS term FROM documents), " +
        "tc AS (SELECT term, count(*) AS tf FROM tt GROUP BY term), " +
        s"bk AS (SELECT ${sqlMd5Long("term")} % $featHashD AS bucket, " +
        "count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS total_tf " +
        "FROM tc GROUP BY 1), " +
        "sm AS (SELECT CAST(sum(n_terms) AS BIGINT) AS vocab_size, " +
        "count(*) AS buckets_used FROM bk) " +
        "SELECT b.bucket, b.n_terms, b.total_tf, sm.vocab_size, " +
        "sm.buckets_used, CAST(((sm.vocab_size - sm.buckets_used) * 1000000) " +
        "// sm.vocab_size AS BIGINT) AS collision_ppm " +
        "FROM (SELECT * FROM bk ORDER BY n_terms DESC, bucket LIMIT 20) b " +
        "CROSS JOIN sm"),

    // packing: same per-source cumsum window, same straddle rule
    // (span crosses a multiple of C), all operands non-negative so
    // DuckDB's truncating // equals the engine's floor division
    "corpus_pack_windows" ->
      (s"WITH d AS (SELECT source, doc_id, CAST(len($sqlToks) AS BIGINT) AS n FROM documents), " +
        "c AS (SELECT source, n, sum(n) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM d), " +
        s"s AS (SELECT source, n, cum, cum - n AS strt FROM c), " +
        "m AS (SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens, " +
        s"CAST(count(CASE WHEN n > 0 AND (strt // $packCapacity) <> ((cum - 1) // $packCapacity) THEN 1 END) AS BIGINT) AS n_boundary_docs " +
        "FROM s GROUP BY 1), " +
        s"w AS (SELECT source, n_docs, total_tokens, CAST((total_tokens + ${packCapacity - 1}) // $packCapacity AS BIGINT) AS n_windows, n_boundary_docs FROM m) " +
        "SELECT source, n_docs, total_tokens, n_windows, n_boundary_docs, " +
        "CAST(n_boundary_docs * 1000000 // greatest(n_docs, 1) AS BIGINT) AS boundary_ppm, " +
        s"CAST((n_windows * $packCapacity - total_tokens) * 1000000 // greatest(n_windows * $packCapacity, 1) AS BIGINT) AS waste_ppm FROM w"),

    // curriculum: same FK kernel as text_readability's oracle, type-1
    // quartile thresholds by the rank-k form (≡ the engine's bisect
    // literals), same stage CASE and pmod floor-mean
    "corpus_curriculum" ->
      (s"WITH t AS (SELECT CAST(len($sqlToks) AS BIGINT) AS w, " +
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl, " +
        "greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS s " +
        "FROM documents), " +
        "g AS (SELECT w, (390000 * w) // s + (11800000 * syl) // w " +
        "- 15590000 AS fk FROM t WHERE w > 0), " +
        "nn AS (SELECT count(*) AS n FROM g), " +
        s"q(q_ppm) AS (VALUES ${currQsPpm.map(q => s"($q)").mkString(", ")}), " +
        "kk AS (SELECT q_ppm, greatest(1, (q_ppm * n + 999999) // 1000000) AS kr " +
        "FROM nn, q), " +
        "r AS (SELECT fk, row_number() OVER (ORDER BY fk) AS rn FROM g), " +
        "th AS (SELECT max(CASE WHEN q_ppm = 250000 THEN fk END) AS t1, " +
        "max(CASE WHEN q_ppm = 500000 THEN fk END) AS t2, " +
        "max(CASE WHEN q_ppm = 750000 THEN fk END) AS t3 " +
        "FROM kk JOIN r ON r.rn = kk.kr), " +
        "st AS (SELECT CASE WHEN fk <= th.t1 THEN 0 WHEN fk <= th.t2 THEN 1 " +
        "WHEN fk <= th.t3 THEN 2 ELSE 3 END AS stage, w, fk, " +
        "th.t1, th.t2, th.t3 FROM g CROSS JOIN th) " +
        "SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_docs, " +
        "CAST(sum(w) AS BIGINT) AS token_sum, min(fk) AS fk_min_us, " +
        "max(fk) AS fk_max_us, " +
        "CAST((sum(CAST(fk AS HUGEINT)) - ((sum(CAST(fk AS HUGEINT)) % count(*)) " +
        "+ count(*)) % count(*)) // count(*) AS BIGINT) AS fk_mean_us, " +
        "t1 AS q25_us, t2 AS q50_us, t3 AS q75_us " +
        "FROM st GROUP BY stage, t1, t2, t3"),

    // bootstrap: the same md5(doc_id ∥ \x01 ∥ b) % 2 membership, replica
    // means as integer floors, rank-k picks over the 32-row frame
    "corpus_bootstrap_ci" -> {
      val B = bootReplicas
      def kq(qPpm: Long) = math.max(1L, (qPpm * B + 999999L) / 1000000L)
      val mexpr = sqlMd5Long(
        "CAST(doc_id AS VARCHAR) || chr(1) || CAST(b.range AS VARCHAR)")
      s"WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS v FROM documents), " +
        s"reps AS (SELECT CAST(b.range AS BIGINT) AS b, " +
        s"CAST(sum(CASE WHEN ($mexpr) % 2 = 0 THEN v ELSE 0 END) AS HUGEINT) AS s, " +
        s"sum(CASE WHEN ($mexpr) % 2 = 0 THEN 1 ELSE 0 END) AS c " +
        s"FROM d CROSS JOIN range($B) b GROUP BY 1), " +
        "m AS (SELECT b, (s * 1000000) // greatest(c, 1) AS mean_us FROM reps), " +
        "r AS (SELECT b, mean_us, row_number() OVER (ORDER BY mean_us, b) AS rn FROM m), " +
        s"p AS (SELECT max(CASE WHEN rn = ${kq(100000)} THEN mean_us END) AS p10, " +
        s"max(CASE WHEN rn = ${kq(500000)} THEN mean_us END) AS p50, " +
        s"max(CASE WHEN rn = ${kq(900000)} THEN mean_us END) AS p90 FROM r), " +
        "f AS (SELECT (CAST(sum(v) AS HUGEINT) * 1000000) // count(*) AS fm FROM d) " +
        "SELECT CAST(f.fm AS BIGINT) AS full_mean_us, " +
        s"CAST($B AS BIGINT) AS n_replicas, " +
        "CAST(p.p10 AS BIGINT) AS boot_p10_us, CAST(p.p50 AS BIGINT) AS boot_p50_us, " +
        "CAST(p.p90 AS BIGINT) AS boot_p90_us, " +
        "CAST(p.p90 - p.p10 AS BIGINT) AS spread_us FROM f CROSS JOIN p"
    },

    "vocab_oov_by_source" ->
      (s"WITH tk AS (SELECT source, unnest($sqlToks) AS tok FROM documents), " +
        "v AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM tk GROUP BY 1 " +
        "ORDER BY n DESC, tok LIMIT 16)), " +
        "j AS (SELECT source, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov " +
        "FROM tk LEFT JOIN v ON tk.tok = v.tok) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(oov) AS BIGINT) AS n_oov, " +
        "CAST((sum(oov) * 1000000) // count(*) AS BIGINT) AS oov_ppm " +
        "FROM j GROUP BY source"),

    // exact two-sample KS over the length histogram: integer cumulative
    // cross-products, one final IEEE division, min-value tie-break
    "corpus_split_drift" ->
      ("WITH d AS (SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split, n_chars " +
        "FROM (SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b, n_chars FROM documents)), " +
        "f AS (SELECT * FROM d WHERE split IN ('train', 'test')), " +
        "h AS (SELECT n_chars, sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS tr, " +
        "sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS te FROM f GROUP BY 1), " +
        "c AS (SELECT n_chars, sum(tr) OVER (ORDER BY n_chars) AS ctr, " +
        "sum(te) OVER (ORDER BY n_chars) AS cte FROM h), " +
        "tot AS (SELECT sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train, " +
        "sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test FROM f), " +
        "g AS (SELECT c.n_chars, abs(ctr * n_test - cte * n_train) AS gap FROM c, tot), " +
        "m AS (SELECT max(gap) AS mg, min(n_chars) FILTER (WHERE gap = (SELECT max(gap) FROM g)) AS at_v FROM g) " +
        "SELECT CAST(n_train AS BIGINT) AS n_train, CAST(n_test AS BIGINT) AS n_test, " +
        "CAST(floor(CAST(mg AS DOUBLE) * 1000000 / (CAST(n_train AS DOUBLE) * CAST(n_test AS DOUBLE))) AS BIGINT) AS ks_ppm, " +
        "CAST(at_v AS BIGINT) AS ks_at_chars FROM tot, m"),

    "vocab_cms_topk" ->
      (s"WITH toks AS (SELECT unnest($sqlToks) AS token FROM documents), " +
        "cells AS (SELECT r, " +
        sqlMd5Long("r::VARCHAR || chr(1) || token") + " % 1024 AS b " +
        "FROM toks, range(0, 4) t(r)), " +
        "sk AS (SELECT r, b, count(*) AS cnt FROM cells GROUP BY 1, 2), " +
        "top AS (SELECT token, count(*) AS n_true FROM toks GROUP BY 1 " +
        "ORDER BY n_true DESC, token LIMIT 100), " +
        "q AS (SELECT token, n_true, r, " +
        sqlMd5Long("r::VARCHAR || chr(1) || token") + " % 1024 AS b " +
        "FROM top, range(0, 4) t(r)), " +
        "e AS (SELECT token, n_true, min(COALESCE(sk.cnt, 0)) AS n_est " +
        "FROM q LEFT JOIN sk USING (r, b) GROUP BY 1, 2) " +
        "SELECT token, n_true, CAST(n_est AS BIGINT) AS n_est FROM e"),

    "bpe_pair_stats" ->
      (s"WITH w AS (SELECT unnest($sqlToks) AS word FROM documents), " +
        "wc AS (SELECT word, count(*) AS freq FROM w GROUP BY word), " +
        "p AS (SELECT freq, unnest(CASE WHEN length(word) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, length(word)), i -> substring(word, i, 2)) END) AS pair FROM wc), " +
        "s AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY pair) " +
        "SELECT pair, cnt FROM s ORDER BY cnt DESC, pair LIMIT 50"),

    "bpe_train_merges" ->
      (sqlBpeRounds.stripSuffix(", ") +
        " SELECT * FROM (SELECT CAST(1 AS BIGINT) AS step, l, r, cnt FROM b1" +
        " UNION ALL SELECT 2, l, r, cnt FROM b2" +
        " UNION ALL SELECT 3, l, r, cnt FROM b3" +
        " UNION ALL SELECT 4, l, r, cnt FROM b4) ORDER BY step"),

    // the driver-local trainer must replay the IDENTICAL trajectory —
    // same oracle text as the distributed twin above
    "bpe_train_local" ->
      (sqlBpeRounds.stripSuffix(", ") +
        " SELECT * FROM (SELECT CAST(1 AS BIGINT) AS step, l, r, cnt FROM b1" +
        " UNION ALL SELECT 2, l, r, cnt FROM b2" +
        " UNION ALL SELECT 3, l, r, cnt FROM b3" +
        " UNION ALL SELECT 4, l, r, cnt FROM b4) ORDER BY step"),

    "pref_bt_scores" ->
      (sqlPrefSym +
        "items AS (SELECT i AS item, CAST(sum(wij) AS BIGINT) AS wins, " +
        "CAST(sum(nij) AS BIGINT) AS games FROM sym GROUP BY i), " +
        "s0 AS (SELECT item, CAST(1000000 AS BIGINT) AS s FROM items), " +
        // den==0/NULL keeps the previous score and every score clamps at
        // 10^15 — both mirroring the engine's degenerate-state guards
        // (DuckDB // by zero is NULL and sum skips NULLs, matching
        // Spark's div-null-skip term semantics)
        (1 to 3).map { k =>
          s"d$k AS (SELECT sym.i AS item, CAST(sum((nij * 1000000000000) // (si.s + sj.s)) AS BIGINT) AS den " +
            s"FROM sym JOIN s${k - 1} si ON sym.i = si.item JOIN s${k - 1} sj ON sym.j = sj.item GROUP BY sym.i), " +
            s"s$k AS (SELECT it.item, least(CAST(CASE WHEN d.den IS NULL OR d.den = 0 THEN sp.s " +
            "ELSE (it.wins * 1000000000000) // d.den END AS BIGINT), 1000000000000000) AS s " +
            s"FROM items it JOIN d$k d ON it.item = d.item JOIN s${k - 1} sp ON it.item = sp.item), "
        }.mkString.stripSuffix(", ") +
        " SELECT it.item, it.wins, it.games, s3.s AS score_mu " +
        "FROM items it JOIN s3 ON it.item = s3.item ORDER BY score_mu DESC, it.item"),

    "pref_pair_matrix" ->
      (sqlPrefSym.stripSuffix(", ") +
        " SELECT i, j, nij, wij, (wij * 1000000) // nij AS winrate_ppm " +
        "FROM sym ORDER BY i, j"),

    // Krippendorff alpha: units from the raw comparison stream `c` (NOT
    // the symmetric pair frame — alpha needs per-rating counts), per-unit
    // µ8 terms over HUGEINT (the engine's DECIMAL(38,0) twin), one-row
    // assembly with the same De=0 NULL guard
    "pref_krippendorff_alpha" ->
      (sqlPrefDc +
        "u AS (SELECT CASE WHEN w <= l THEN w ELSE l END AS i, " +
        "CASE WHEN w <= l THEN l ELSE w END AS j, " +
        "CASE WHEN w <= l THEN 1 ELSE 0 END AS low_win FROM c), " +
        "un AS (SELECT i, j, CAST(sum(low_win) AS BIGINT) AS o1, " +
        "count(*) AS n_u FROM u GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "g AS (SELECT count(*) AS n_units, CAST(sum(n_u) AS BIGINT) AS n_ratings, " +
        "CAST(sum(o1) AS BIGINT) AS n_low, CAST(sum(n_u - o1) AS BIGINT) AS n_high, " +
        "CAST(sum(CAST((CAST(o1 AS HUGEINT) * (n_u - o1) * 200000000) // (n_u - 1) AS BIGINT)) AS BIGINT) AS do_mu8 FROM un) " +
        "SELECT n_units, n_ratings, n_low, n_high, do_mu8, " +
        "CASE WHEN n_low = 0 OR n_high = 0 THEN CAST(NULL AS BIGINT) " +
        "ELSE CAST(1000000 - (CAST(do_mu8 AS HUGEINT) * (n_ratings - 1) * 1000000) // " +
        "(CAST(n_low AS HUGEINT) * n_high * 200000000) AS BIGINT) END AS alpha_ppm FROM g"),

    // general-nominal alpha over the 3-category return-flag log: same
    // HUGEINT ladder, margins restricted to pairable units (HAVING >= 2)
    "pref_krippendorff_nominal" ->
      ("WITH r AS (SELECT l_orderkey AS u, l_returnflag AS c FROM lineitem), " +
        "uc AS (SELECT u, c, count(*) AS o FROM r GROUP BY 1, 2), " +
        "un AS (SELECT u, CAST(sum(o) AS BIGINT) AS n_u, " +
        "CAST(sum(CAST(o AS HUGEINT) * o) AS HUGEINT) AS ss " +
        "FROM uc GROUP BY u HAVING sum(o) >= 2), " +
        "tm AS (SELECT u, n_u, CAST(((CAST(n_u AS HUGEINT) * n_u - ss) * 100000000) " +
        "// (n_u - 1) AS BIGINT) AS t_mu8 FROM un), " +
        "cats AS (SELECT c, CAST(sum(o) AS BIGINT) AS n_c FROM uc " +
        "WHERE u IN (SELECT u FROM un) GROUP BY c), " +
        "ca AS (SELECT count(*) AS n_cats, " +
        "CAST(sum(CAST(n_c AS HUGEINT) * n_c) AS HUGEINT) AS sc FROM cats), " +
        "g AS (SELECT count(*) AS n_units, CAST(sum(n_u) AS BIGINT) AS n_ratings, " +
        "CAST(sum(t_mu8) AS BIGINT) AS do_mu8 FROM tm) " +
        "SELECT n_units, n_ratings, n_cats, do_mu8, " +
        "CASE WHEN CAST(n_ratings AS HUGEINT) * n_ratings - sc = 0 " +
        "THEN CAST(NULL AS BIGINT) " +
        "ELSE CAST(1000000 - (CAST(do_mu8 AS HUGEINT) * (n_ratings - 1) * 1000000) // " +
        "((CAST(n_ratings AS HUGEINT) * n_ratings - sc) * 100000000) AS BIGINT) " +
        "END AS alpha_ppm FROM g, ca"),

    // interval alpha: the same moment-form statistic over HUGEINT
    "pref_krippendorff_interval" ->
      ("WITH r AS (SELECT l_orderkey AS u, CAST(l_quantity AS BIGINT) AS v FROM lineitem), " +
        "un AS (SELECT u, count(*) AS n_u, CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS s1, " +
        "CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2 " +
        "FROM r GROUP BY u HAVING count(*) >= 2), " +
        "tm AS (SELECT n_u, CAST(((CAST(n_u AS HUGEINT) * s2 - s1 * s1) * 200000000) " +
        "// (n_u - 1) AS BIGINT) AS t_mu8, s1, s2 FROM un), " +
        "g AS (SELECT count(*) AS n_units, CAST(sum(n_u) AS BIGINT) AS n_ratings, " +
        "CAST(sum(t_mu8) AS BIGINT) AS do_mu8, " +
        "CAST(sum(s1) AS HUGEINT) AS S1, CAST(sum(s2) AS HUGEINT) AS S2 FROM tm) " +
        "SELECT n_units, n_ratings, do_mu8, " +
        "CASE WHEN CAST(n_ratings AS HUGEINT) * S2 - S1 * S1 = 0 " +
        "THEN CAST(NULL AS BIGINT) " +
        "ELSE CAST(1000000 - (CAST(do_mu8 AS HUGEINT) * (n_ratings - 1) * 1000000) // " +
        "((CAST(n_ratings AS HUGEINT) * S2 - S1 * S1) * 200000000) AS BIGINT) " +
        "END AS alpha_ppm FROM g"),

    "pref_dpo_pairs" ->
      (sqlPrefSym.stripSuffix(", ") +
        " SELECT i AS chosen, j AS rejected, nij, wij, " +
        "(wij * 2000000 - nij * 1000000) // nij AS margin_ppm " +
        "FROM sym WHERE nij >= 20 AND wij * 1000000 >= 540000 * nij " +
        "ORDER BY chosen, rejected"),

    // per-prompt twin: prompt kept through the comparison derivation,
    // same window tie-breaks and division-free strict gate as the engine
    "pref_dpo_prompt_pairs" ->
      ("WITH a AS (SELECT l_orderkey, l_linenumber, l_quantity, p_brand " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey), " +
        "e AS (SELECT x.l_orderkey AS prompt, x.p_brand AS bx, y.p_brand AS bb, " +
        "x.l_quantity AS qx, y.l_quantity AS qy " +
        "FROM a x JOIN a y ON x.l_orderkey = y.l_orderkey AND x.l_linenumber < y.l_linenumber " +
        "WHERE x.l_quantity <> y.l_quantity AND x.p_brand <> y.p_brand), " +
        "c AS (SELECT CAST(prompt AS BIGINT) AS prompt, " +
        "CASE WHEN qx > qy THEN bx ELSE bb END AS w, " +
        "CASE WHEN qx > qy THEN bb ELSE bx END AS l FROM e), " +
        "u AS (SELECT prompt, w AS item, 1 AS win FROM c " +
        "UNION ALL SELECT prompt, l AS item, 0 AS win FROM c), " +
        "st AS (SELECT prompt, item, CAST(sum(win) AS BIGINT) AS wins, " +
        "CAST(count(*) AS BIGINT) AS games FROM u GROUP BY 1, 2), " +
        "rt AS (SELECT prompt, item, wins, games, " +
        "(wins * 1000000) // games AS rate_ppm, " +
        "row_number() OVER (PARTITION BY prompt ORDER BY (wins * 1000000) // games DESC, item) AS rb, " +
        "row_number() OVER (PARTITION BY prompt ORDER BY (wins * 1000000) // games ASC, item DESC) AS rw FROM st), " +
        "b AS (SELECT prompt, item AS chosen, wins AS cw, games AS cg, rate_ppm AS chosen_ppm FROM rt WHERE rb = 1), " +
        "w2 AS (SELECT prompt, item AS rejected, wins AS rjw, games AS rjg, rate_ppm AS rejected_ppm FROM rt WHERE rw = 1) " +
        "SELECT b.prompt, b.chosen, w2.rejected, " +
        "CAST(b.chosen_ppm AS BIGINT) AS chosen_ppm, " +
        "CAST(w2.rejected_ppm AS BIGINT) AS rejected_ppm " +
        "FROM b JOIN w2 ON b.prompt = w2.prompt " +
        "WHERE b.cw * w2.rjg > w2.rjw * b.cg ORDER BY b.prompt"),

    "bpe_encode_sample" ->
      (sqlBpeRounds.stripSuffix(", ") +
        " SELECT word, CAST(freq AS BIGINT) AS freq," +
        " string_agg(tok, ' ' ORDER BY pos) AS encoded," +
        " CAST(count(*) AS BIGINT) AS n_sym" +
        " FROM p4 GROUP BY word, freq ORDER BY freq DESC, word LIMIT 100"),

    // six independently-replayed training rounds; the engine side runs
    // the broadcast-table serving kernel, so hash-equality pins the
    // serving encoder to the fold semantics cross-engine
    "bpe_encode_trie" ->
      (sqlBpeRoundsN(6).stripSuffix(", ") +
        " SELECT word, CAST(freq AS BIGINT) AS freq," +
        " string_agg(tok, ' ' ORDER BY pos) AS encoded," +
        " CAST(count(*) AS BIGINT) AS n_sym" +
        " FROM p6 GROUP BY word, freq ORDER BY freq DESC, word LIMIT 100"),

    // corpus-grain encode: same 6-merge replay; per-word encodings
    // (ordered string_agg within word) join back onto the positional
    // token stream and re-agg in word order per doc. Parallel unnests
    // zip (corpus_unk_rare precedent); token-less docs keep a row with
    // '' / 0 via the LEFT JOIN + COALESCE
    "bpe_corpus_encode" ->
      (sqlBpeRoundsN(6) +
        "enc AS (SELECT word, string_agg(tok, ' ' ORDER BY pos) AS esym," +
        " CAST(count(*) AS BIGINT) AS n FROM p6 GROUP BY word), " +
        s"dt AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "st AS (SELECT doc_id, unnest(toks) AS word," +
        " unnest(range(1, len(toks) + 1)) AS wp FROM dt), " +
        "per AS (SELECT doc_id, string_agg(esym, ' ' ORDER BY wp) AS encoded," +
        " CAST(sum(n) AS BIGINT) AS n_tokens FROM st JOIN enc USING (word)" +
        " GROUP BY doc_id) " +
        "SELECT doc_id, COALESCE(encoded, '') AS encoded," +
        " CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens" +
        " FROM documents LEFT JOIN per USING (doc_id)" +
        " ORDER BY doc_id LIMIT 100"),

    "corpus_drift" ->
      (s"WITH d AS (SELECT doc_id, text, " +
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk FROM documents), " +
        s"oc AS (SELECT token, count(*) AS c FROM (SELECT unnest($sqlToks) AS token FROM d WHERE bk < 50) GROUP BY 1), " +
        s"nc AS (SELECT token, count(*) AS c FROM (SELECT unnest($sqlToks) AS token FROM d WHERE bk >= 50) GROUP BY 1), " +
        "op AS (SELECT token, (CAST(c AS HUGEINT) * 1000000) // (SELECT sum(c) FROM oc) AS old_ppm FROM oc), " +
        "np AS (SELECT token, (CAST(c AS HUGEINT) * 1000000) // (SELECT sum(c) FROM nc) AS new_ppm FROM nc), " +
        "j AS (SELECT COALESCE(op.token, np.token) AS token, " +
        "CAST(COALESCE(old_ppm, 0) AS BIGINT) AS old_ppm, " +
        "CAST(COALESCE(new_ppm, 0) AS BIGINT) AS new_ppm " +
        "FROM op FULL OUTER JOIN np ON op.token = np.token) " +
        "SELECT token, old_ppm, new_ppm, abs(new_ppm - old_ppm) AS shift_ppm " +
        "FROM j ORDER BY shift_ppm DESC, token LIMIT 30"),

    // parallel unnests zip in DuckDB: (token, position) stream → vocab
    // counts → CASE scrub → ordered string_agg rebuild per doc
    "corpus_unk_rare" ->
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "s AS (SELECT doc_id, unnest(toks) AS tok, " +
        "unnest(range(1, len(toks) + 1)) AS p FROM t), " +
        "v AS (SELECT tok, count(*) AS n FROM s GROUP BY tok), " +
        "o AS (SELECT doc_id, p, n, CASE WHEN n >= 3 THEN tok ELSE '<unk>' END AS outt " +
        "FROM s JOIN v USING (tok)), " +
        "per AS (SELECT doc_id, string_agg(outt, ' ' ORDER BY p) AS scrubbed, " +
        "count(*) AS n_tokens, count(CASE WHEN n < 3 THEN 1 END) AS n_unk " +
        "FROM o GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(scrubbed, '') AS scrubbed, " +
        "CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens, " +
        "CAST(COALESCE(n_unk, 0) AS BIGINT) AS n_unk " +
        "FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)"),

    // snapshot diff: same stable buckets + every-7th revision; DuckDB
    // array_to_string([]) is NULL where Spark concat_ws is '' → COALESCE
    // inside the md5 so empty docs fingerprint identically
    "corpus_delta" ->
      ("WITH d AS (SELECT doc_id, text, " +
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b FROM documents), " +
        s"o AS (SELECT doc_id, md5(COALESCE(array_to_string($sqlToks, ' '), '')) AS old_fp " +
        "FROM d WHERE b < 90), " +
        "nn AS (SELECT doc_id, md5(COALESCE(array_to_string(" +
        "list_filter(string_split_regex(lower(t2), '\\s+'), x -> len(x) > 0), ' '), '')) AS new_fp " +
        "FROM (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS t2 " +
        "FROM d WHERE b >= 5)) " +
        "SELECT COALESCE(o.doc_id, nn.doc_id) AS doc_id, " +
        "CASE WHEN o.doc_id IS NULL THEN 'added' WHEN nn.doc_id IS NULL THEN 'removed' " +
        "WHEN old_fp = new_fp THEN 'unchanged' ELSE 'changed' END AS status, " +
        "old_fp, new_fp " +
        "FROM o FULL OUTER JOIN nn ON o.doc_id = nn.doc_id"),

    // group-level tf-idf: tf per (source, token), df over groups,
    // G a one-row cross join; ties break token-ascending
    "corpus_top_terms" ->
      (s"WITH tf AS (SELECT grp, token, count(*) AS tf FROM " +
        s"(SELECT source AS grp, unnest($sqlToks) AS token FROM documents) GROUP BY grp, token), " +
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY token), " +
        "g AS (SELECT count(DISTINCT grp) AS ng FROM tf), " +
        "sc AS (SELECT grp, token, tf::DOUBLE * ln(ng::DOUBLE / df) AS score " +
        "FROM tf JOIN df USING (token) CROSS JOIN g) " +
        "SELECT grp, CAST(rn AS INTEGER) AS term_rank, token, round(score, 6) AS score FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY grp ORDER BY score DESC, token) AS rn FROM sc) " +
        "WHERE rn <= 5"),

    // PMI = ln((cb/nb) / ((ca/n)(cb_u/n))) — the SAME single-ln ratio tree
    // the engine builds, ordered by the unrounded score
    "corpus_pmi" ->
      (s"WITH t AS (SELECT $sqlToks AS toks FROM documents), " +
        "uc AS (SELECT tk, count(*) AS cu FROM (SELECT unnest(toks) AS tk FROM t) GROUP BY tk), " +
        "bc AS (SELECT g, count(*) AS cb FROM (SELECT unnest(" +
        "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS g FROM t) GROUP BY g), " +
        "nt AS (SELECT COALESCE(sum(cu), 0) AS n FROM uc), " +
        "nb AS (SELECT COALESCE(sum(cb), 0) AS nbi FROM bc), " +
        "sc AS (SELECT g, cb, ln((CAST(cb AS DOUBLE) / nbi) / " +
        "((CAST(a.cu AS DOUBLE) / n) * (CAST(b.cu AS DOUBLE) / n))) AS pmi " +
        "FROM bc JOIN uc a ON split_part(g, ' ', 1) = a.tk " +
        "JOIN uc b ON split_part(g, ' ', 2) = b.tk " +
        "CROSS JOIN nt CROSS JOIN nb WHERE cb >= 5) " +
        "SELECT g AS bigram, CAST(cb AS BIGINT) AS n_pair, round(pmi, 6) AS pmi " +
        "FROM sc ORDER BY sc.pmi DESC, g LIMIT 50"),

    "corpus_ingest" -> ingestOracleSql,

    // the streaming screen computes corpus_ingest's exact output (same
    // split, same Md5 kernels) — one oracle text, batch AND stream
    "events_stream_ingest_screen" -> ingestOracleSql,

    // fixed power-of-two ladder (never 2^ceil(log2 n): libm log2 is not
    // boundary-exact across engines); batches fill in stable doc order
    // per (bucket, shard)
    "corpus_batches" ->
      (s"WITH t AS (SELECT doc_id, len($sqlToks) AS n FROM documents), " +
        "b AS (SELECT doc_id, n, CASE " +
        graft.functions.Sampling.LengthLadder.init
          .map(x => s"WHEN n <= $x THEN $x").mkString(" ") +
        s" ELSE ${graft.functions.Sampling.LengthLadder.last} END AS bucket, " +
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS shard FROM t), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) AS rn FROM b), " +
        "g AS (SELECT bucket, shard, (rn - 1) // 8 AS batch_idx, " +
        "count(*) AS n_docs, CAST(max(n) AS BIGINT) AS max_tokens, " +
        "CAST(sum(n) AS BIGINT) AS sum_tokens FROM r GROUP BY bucket, shard, batch_idx) " +
        "SELECT bucket, shard, CAST(batch_idx AS BIGINT) AS batch_idx, n_docs, " +
        "max_tokens, sum_tokens, " +
        "round(CASE WHEN max_tokens > 0 THEN 1.0 - CAST(sum_tokens AS DOUBLE) / " +
        "(n_docs * max_tokens) ELSE 0.0 END, 6) AS pad_frac FROM g"),

    // per-label DECIMAL-mean centroids from stable buckets < 80, held-out
    // vectors classified by best cosine; margin = best − second (−1.0
    // fallback), ties to the lowest label
    "corpus_classify" ->
      ("WITH b AS (SELECT vec_id, label, embedding, " +
        "('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk FROM embeddings), " +
        "comp AS (SELECT label, i, CAST(sum(CAST(embedding[i]::DOUBLE AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c " +
        "FROM b, range(1, 65) r(i) WHERE bk < 80 GROUP BY label, i), " +
        "cent AS (SELECT label AS clbl, list(c ORDER BY i) AS cvec FROM comp GROUP BY label), " +
        "cn AS (SELECT clbl, cvec, sqrt(list_sum(list_transform(range(1, 65), i -> cvec[i] * cvec[i]))) AS cnorm FROM cent), " +
        "tst AS (SELECT vec_id, label AS true_label, embedding, " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS tn " +
        "FROM b WHERE bk >= 80), " +
        "sc AS (SELECT t.vec_id, t.true_label, c.clbl, " +
        "CASE WHEN t.tn > 0 AND c.cnorm > 0 THEN " +
        "list_sum(list_transform(range(1, 65), i -> t.embedding[i]::DOUBLE * c.cvec[i])) / (t.tn * c.cnorm) " +
        "ELSE 0.0 END AS cos FROM tst t CROSS JOIN cn c), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clbl) AS rn, " +
        "lead(cos) OVER (PARTITION BY vec_id ORDER BY cos DESC, clbl) AS nxt FROM sc) " +
        "SELECT vec_id, true_label, clbl AS pred_label, round(cos, 6) AS cos, " +
        "round(cos - COALESCE(nxt, -1.0), 6) AS margin, clbl = true_label AS correct " +
        "FROM rk WHERE rn = 1"),

    // multinomial NB: per-class token counts with add-1 smoothing, per-
    // occurrence DECIMAL ln-sums, prior + likelihood argmax (ties label-
    // asc); zero-token docs classify by prior via the left join
    "corpus_nb_lang" ->
      (s"WITH d AS (SELECT doc_id, lang, $sqlToks AS toks, " +
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk FROM documents), " +
        "tr AS (SELECT * FROM d WHERE bk < 80), " +
        "te AS (SELECT * FROM d WHERE bk >= 80), " +
        "tt AS (SELECT lang AS lbl, unnest(toks) AS t FROM tr), " +
        "tc AS (SELECT lbl, t, count(*) AS ct FROM tt GROUP BY lbl, t), " +
        "cs AS (SELECT lang AS lbl, count(*) AS ndocs, COALESCE(sum(len(toks)), 0) AS ntoks FROM tr GROUP BY lang), " +
        "nt AS (SELECT sum(ndocs) AS ntrain FROM cs), " +
        "v AS (SELECT count(DISTINCT t) AS vv FROM tt), " +
        "cls AS (SELECT lbl, ln(CAST(ndocs AS DOUBLE) / ntrain) AS prior, " +
        "CAST(ntoks + 1.0 * vv AS DOUBLE) AS denom FROM cs CROSS JOIN nt CROSS JOIN v), " +
        "tek AS (SELECT doc_id, unnest(toks) AS t FROM te), " +
        "occ AS (SELECT tek.doc_id, c.lbl, " +
        "sum(CAST(ln((COALESCE(tc.ct, 0) + 1.0) / c.denom) AS DECIMAL(27,12))) AS tsum " +
        "FROM tek CROSS JOIN cls c LEFT JOIN tc ON tc.lbl = c.lbl AND tc.t = tek.t " +
        "GROUP BY tek.doc_id, c.lbl), " +
        "fl AS (SELECT te.doc_id, te.lang AS true_label, c.lbl, " +
        "c.prior + COALESCE(CAST(o.tsum AS DOUBLE), 0.0) AS logp " +
        "FROM te CROSS JOIN cls c LEFT JOIN occ o ON o.doc_id = te.doc_id AND o.lbl = c.lbl), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY logp DESC, lbl) AS rn, " +
        "lead(logp) OVER (PARTITION BY doc_id ORDER BY logp DESC, lbl) AS nxt FROM fl) " +
        "SELECT doc_id, true_label, lbl AS pred_label, round(logp, 6) AS logp, " +
        "round(logp - nxt, 6) AS margin, lbl = true_label AS correct " +
        "FROM rk WHERE rn = 1"),

    "corpus_examples" ->
      ("SELECT lang, CAST(rn AS INTEGER) AS example_rank, doc_id FROM " +
        "(SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
        "ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1073741824, doc_id) AS rn " +
        "FROM documents) WHERE rn <= 3"),

    // exact percentile ≡ DuckDB quantile_cont (same linear-interpolation
    // definition); feature expressions shared with text_quality's oracle
    "corpus_calibrate" ->
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks, " +
        "length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / " +
        "CAST(CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END AS DOUBLE) AS ar " +
        "FROM documents), " +
        "f AS (SELECT doc_id, ar, CAST(len(toks) AS DOUBLE) AS nt, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE " +
        "CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','that','it','for'], x))) AS DOUBLE) / len(toks) END AS sr " +
        "FROM t) " +
        "SELECT count(*) AS n_docs, " +
        "round(quantile_cont(ar, 0.1), 6) AS alpha_ratio_p10, " +
        "round(quantile_cont(ar, 0.5), 6) AS alpha_ratio_p50, " +
        "round(quantile_cont(ar, 0.9), 6) AS alpha_ratio_p90, " +
        "round(quantile_cont(nt, 0.5), 6) AS n_tokens_p50, " +
        "round(quantile_cont(nt, 0.9), 6) AS n_tokens_p90, " +
        "round(quantile_cont(sr, 0.5), 6) AS stopword_ratio_p50 FROM f"),

    // per-column profile as UNION ALL arms over one logical table — the
    // engine does it in one scan, the oracle's clarity matters more than
    // its plan; min/max aggregate on the native type then render to text
    "table_profile" -> {
      def arm(c: String) =
        s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
          s"count(*) - count($c) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct, " +
          s"CAST(min($c) AS VARCHAR) AS min_value, " +
          s"CAST(max($c) AS VARCHAR) AS max_value FROM documents"
      Seq("doc_id", "text", "lang", "source", "n_chars")
        .map(arm).mkString(" UNION ALL ")
    },

    // type-1 (lower) quantile = k-th order statistic, k = max(1, ⌈q·n⌉):
    // the oracle materializes it by rank; the engine bisects — same value
    "orders_price_quantiles_exact" ->
      ("WITH t AS (SELECT CAST(floor(o_totalprice * 1000000) AS BIGINT) AS v FROM orders), " +
        "nn AS (SELECT count(*) AS n FROM t), " +
        "q(q_ppm) AS (VALUES (500000), (900000), (990000)), " +
        "kk AS (SELECT CAST(q_ppm AS BIGINT) AS q_ppm, " +
        "greatest(1, (q_ppm * n + 999999) // 1000000) AS k FROM q, nn), " +
        "r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM t) " +
        "SELECT kk.q_ppm, CAST(kk.k AS BIGINT) AS k, r.v AS value " +
        "FROM kk JOIN r ON r.rn = kk.k ORDER BY q_ppm"),

    "text_length_quantiles_bisect" ->
      ("WITH t AS (SELECT lang, n_chars AS v FROM documents), " +
        "nn AS (SELECT lang, count(*) AS n FROM t GROUP BY 1), " +
        "q(q_ppm) AS (VALUES (500000), (900000)), " +
        "kk AS (SELECT lang, CAST(q_ppm AS BIGINT) AS q_ppm, " +
        "greatest(1, (q_ppm * n + 999999) // 1000000) AS k FROM nn, q), " +
        "r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn FROM t) " +
        "SELECT kk.lang AS lang, kk.q_ppm, CAST(kk.k AS BIGINT) AS k, r.v AS value " +
        "FROM kk JOIN r ON r.lang = kk.lang AND r.rn = kk.k " +
        "ORDER BY kk.lang, q_ppm"),

    // canonicalization rerun under RE2 via the shared sqlCanonChain (same
    // regex constants as the engine); rtrim(x, '/') strips all trailing
    // slashes in both engines
    "corpus_url_canonical" ->
      (s"WITH u AS (SELECT '$urlP1' || source || '$urlP2' || (doc_id % 7) || '$urlP3' || (doc_id % 30) || '$urlP4' || doc_id || '$urlP5' || doc_id AS url FROM documents), " +
        sqlCanonChain("u", Seq.empty) + " " +
        s"SELECT lower(regexp_extract(cu, '${Urls.HostRe}', 1)) AS host, " +
        "count(*) AS n_docs, count(DISTINCT cu) AS n_canonical, " +
        "CAST(count(*) - count(DISTINCT cu) AS BIGINT) AS n_dup, " +
        s"CAST(greatest(count(*) - $urlDomainCap, 0) AS BIGINT) AS suggested_drop " +
        "FROM canon GROUP BY 1"),

    // host edges rebuilt arithmetically (independent of the href/canonical
    // route, which corpus_link_graph verifies); same unrolled fixed-point
    // rounds as graph_pagerank via the shared pageRankSqlOver
    "graph_domain_rank" -> pageRankSqlOver(domainEdgeCtes,
      nodeAlias = "host"),

    // same edge set, teleport restricted to the seed hosts: the per-seed
    // share mirrors the engine's nested integer floors
    // (15·10¹²·N) // 100 // |S|, and r0 IS the teleport vector
    "graph_ppr_seeds" -> pprSqlOver(domainEdgeCtes, pprSeeds,
      nodeAlias = "host"),

    // same edge set, the 2 HITS half-rounds unrolled with scalar-subquery
    // max rescales mirroring the engine's broadcast 1-row max
    "graph_hits" -> hitsSqlOver(domainEdgeCtes, nodeAlias = "host"),

    // link prediction: same symmetrized edges, per-node adjacency cap by
    // the same row_number order, wedge join, true-degree Jaccard
    "graph_link_predict" ->
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
        "ORDER BY jaccard_ppm DESC, cn DESC, id_a, id_b LIMIT 20"),

    // robots: bodies + frontier rebuilt from the shared constants, the
    // same star-group window math and longest-prefix/allow-tie pick
    "corpus_robots_screen" ->
      (s"WITH $sqlRobotsScr " +
        "SELECT s.host, count(CASE WHEN allowed THEN 1 END) AS n_allowed, " +
        "count(CASE WHEN NOT allowed THEN 1 END) AS n_blocked, " +
        "CAST(COALESCE(max(d.crawl_delay_s), 0) AS BIGINT) AS crawl_delay_s " +
        "FROM scr s LEFT JOIN rdelays d ON s.host = d.host GROUP BY s.host"),

    "corpus_robots_blocked" ->
      (s"WITH $sqlRobotsScr " +
        "SELECT host, url, matched_prefix FROM scr WHERE NOT allowed"),

    "corpus_sitemaps" ->
      (s"WITH $sqlRobotsScr " +
        "SELECT host, val AS sitemap_url FROM rdl " +
        "WHERE dir = 'sitemap' AND val <> ''"),

    "corpus_fetch_schedule" ->
      (s"WITH $sqlRobotsScr, " +
        "sched AS (SELECT s.host, s.url, " +
        "row_number() OVER (PARTITION BY s.host ORDER BY s.url) - 1 AS fetch_seq, " +
        "COALESCE(d.crawl_delay_s, 0) AS delay " +
        "FROM scr s LEFT JOIN rdelays d ON s.host = d.host WHERE s.allowed) " +
        "SELECT host, url, CAST(fetch_seq AS BIGINT) AS fetch_seq, " +
        "CAST(fetch_seq * delay AS BIGINT) AS offset_s FROM sched"),

    // hrefs re-extracted with the same HrefRe under RE2, relative links
    // dropped by the same AbsoluteRe, canonicalization via sqlCanonChain
    "corpus_link_graph" ->
      (s"WITH h AS (SELECT source || '.example.com' AS src_host, " +
        s"'$linkA1' || ((doc_id + 1) % 20) || '$linkA2' || (doc_id % 11) || '$linkJ1' || " +
        s"'$linkA1' || ((doc_id + 2) % 20) || '$linkA2' || (doc_id % 11) || '$linkJ2' || " +
        s"'$linkA1' || ((doc_id + 3) % 20) || '$linkA2' || (doc_id % 11) || '$linkJ3' AS html FROM documents), " +
        s"l AS (SELECT src_host, unnest(regexp_extract_all(html, '${Html.HrefRe}', 1)) AS url FROM h), " +
        s"u AS (SELECT src_host, url FROM l WHERE url <> '' AND regexp_matches(url, '${Urls.AbsoluteRe}')), " +
        sqlCanonChain("u", Seq("src_host")) + " " +
        s"SELECT src_host, lower(regexp_extract(cu, '${Urls.HostRe}', 1)) AS dst_host, " +
        "count(*) AS n_links, count(DISTINCT cu) AS n_targets " +
        "FROM canon GROUP BY 1, 2"),

    // expected output rebuilt STRAIGHT from documents (no container):
    // equality with the engine's pack→parse→extract round trip is the
    // archive-codec correctness claim
    "warc_main_text" -> {
      val vx = sqlVisible("x")
      val anchors = "COALESCE(array_to_string(regexp_extract_all(x, '" +
        Html.AnchorRe + "', 1), ' '), '')"
      val vAnchor = sqlVisible(anchors)
      s"WITH h AS (SELECT '$warcU1' || (doc_id % 20) || '$warcU2' || doc_id AS uri, " +
        s"'$htmlPre' || doc_id || '$htmlMid' || text || '$htmlPost' AS html FROM documents), " +
        s"c AS (SELECT uri, html, regexp_replace(regexp_replace(html, '${Html.DropContentRe}', ' ', 'g'), '${Html.CommentRe}', ' ', 'g') AS clean FROM h), " +
        s"k AS (SELECT uri, html, list_filter(string_split_regex(clean, '${Html.BlockCloseRe}'), x -> " +
        s"len($vx) >= $htmlMinChars AND len($vAnchor) * 1000000 <= len($vx) * $htmlMaxLinkPpm) AS kept FROM c), " +
        s"m AS (SELECT uri, ${sqlVisible(s"regexp_extract(html, '${Html.TitleRe}', 1)")} AS title, " +
        "COALESCE(array_to_string(list_transform(kept, x -> " + vx +
        "), chr(10)), '') AS main_text FROM k) " +
        "SELECT uri, title, CAST(len(main_text) AS BIGINT) AS main_chars FROM m"
    },

    // same template, same RE2-safe patterns (shared constants), same
    // integer-ppm link-density block rule; array_to_string of an empty
    // kept list COALESCEs to '' to match Spark's array_join
    "text_html_extract" -> {
      val vx = sqlVisible("x")
      val anchors = "COALESCE(array_to_string(regexp_extract_all(x, '" +
        Html.AnchorRe + "', 1), ' '), '')"
      val vAnchor = sqlVisible(anchors)
      s"WITH h AS (SELECT doc_id, '$htmlPre' || doc_id || '$htmlMid' || text || '$htmlPost' AS html FROM documents), " +
        s"c AS (SELECT doc_id, html, regexp_replace(regexp_replace(html, '${Html.DropContentRe}', ' ', 'g'), '${Html.CommentRe}', ' ', 'g') AS clean FROM h), " +
        s"k AS (SELECT doc_id, html, list_filter(string_split_regex(clean, '${Html.BlockCloseRe}'), x -> " +
        s"len($vx) >= $htmlMinChars AND len($vAnchor) * 1000000 <= len($vx) * $htmlMaxLinkPpm) AS kept FROM c), " +
        s"m AS (SELECT doc_id, ${sqlVisible(s"regexp_extract(html, '${Html.TitleRe}', 1)")} AS title, " +
        "COALESCE(array_to_string(list_transform(kept, x -> " + vx +
        "), chr(10)), '') AS main_text FROM k) " +
        "SELECT doc_id, title, main_text, CAST(len(main_text) AS BIGINT) AS main_chars FROM m"
    },

    // each FK term is its own integer floor division; the mean of the
    // (possibly negative) grade sum uses the shared pmod-floor form
    "text_readability" ->
      (s"WITH t AS (SELECT source, CAST(len($sqlToks) AS BIGINT) AS w, " +
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl, " +
        "greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS s " +
        "FROM documents), " +
        "g AS (SELECT source AS grp, (390000 * w) // s + (11800000 * syl) // w " +
        "- 15590000 AS gus FROM t WHERE w > 0) " +
        "SELECT grp, count(*) AS n_docs, " +
        "CAST((sum(CAST(gus AS HUGEINT)) - ((sum(CAST(gus AS HUGEINT)) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS mean_fk_us, " +
        "min(gus) AS min_fk_us, max(gus) AS max_fk_us " +
        "FROM g GROUP BY grp"),

    // percentile ≡ quantile_cont on identical BIGINT inputs (the
    // calibrate precedent), stratified by language
    "corpus_length_quantiles" ->
      ("SELECT lang, count(*) AS n_docs, " +
        "quantile_cont(n_chars, 0.25) AS p25, " +
        "quantile_cont(n_chars, 0.5) AS p50, " +
        "quantile_cont(n_chars, 0.75) AS p75, " +
        "quantile_cont(n_chars, 0.9) AS p90 " +
        "FROM documents GROUP BY lang"),

    // the same sequential fold over micro-unit squares; zero vectors get
    // their own bucket 0
    "embedding_norm_profile" ->
      ("WITH n AS (SELECT list_sum(list_transform(embedding, " +
        "v -> CAST(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) AS HUGEINT) * " +
        "CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))) AS n2 FROM embeddings) " +
        "SELECT CASE WHEN n2 = 0 THEN 0 ELSE len(bin(CAST(n2 AS BIGINT))) END AS bucket, " +
        "count(*) AS n_vecs, CAST(min(n2) AS BIGINT) AS min_n2, " +
        "CAST(max(n2) AS BIGINT) AS max_n2 FROM n GROUP BY 1"),

    // overlapping char trigrams: starts 1..len-2 via range + substring
    "text_char_trigrams" ->
      ("WITH d AS (SELECT lang, lower(text) AS t FROM documents), " +
        "tri AS (SELECT lang, unnest(list_transform(range(1, greatest(len(t) - 1, 1)), " +
        "i -> substring(t, CAST(i AS INT), 3))) AS tri FROM d), " +
        "c AS (SELECT lang, tri, count(*) AS n FROM tri GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY lang " +
        "ORDER BY n DESC, tri) AS rank FROM c) " +
        s"SELECT lang, tri, n, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= $trigramTopK"),

    // Simpson concentration: all-integer (HUGEINT products, // floor on
    // non-negative operands ≡ the engine's decimal intDiv)
    "corpus_diversity" ->
      ("WITH p AS (SELECT lang AS stratum, source, count(*) AS c " +
        "FROM documents GROUP BY 1, 2), " +
        "a AS (SELECT stratum, sum(c) AS n_docs, count(*) AS n_sources, " +
        "sum(CAST(c AS HUGEINT) * c) AS sq, max(c) AS cmax FROM p GROUP BY 1) " +
        "SELECT stratum, CAST(n_docs AS BIGINT) AS n_docs, n_sources, " +
        "CAST((sq * 1000000) // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS simpson_ppm, " +
        "CAST((CAST(cmax AS HUGEINT) * 1000000) // CAST(n_docs AS HUGEINT) AS BIGINT) AS top_share_ppm " +
        "FROM a"),

    "corpus_by_source" ->
      (s"WITH t AS (SELECT source, lang, " +
        "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / " +
        "CAST(CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END AS DOUBLE) AS DECIMAL(27,12)) AS ar, " +
        s"len($sqlToks) AS nt FROM documents) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens, " +
        "round(CAST(sum(ar) AS DOUBLE) / count(*), 6) AS mean_alpha_ratio, " +
        "count(DISTINCT lang) AS n_langs FROM t GROUP BY source"),

    // BM25: same expression tree as Bm25.termScore (ln = natural log in
    // both engines; per-term scores summed as DECIMAL so accumulation
    // order cannot matter)
    "text_bm25_topk" -> bm25TopkOracleSql,

    "text_ql_topk" -> qlTopkOracleSql,

    // RBO weights ×10^12 are 9^(d-1)·10^(12-d) — integral for d ≤ 12,
    // the same exact-integer ladder convention as RRF/discountsMu
    "text_rank_rbo" -> {
      val ws = (1 to 10).map(d =>
        s"($d, ${(BigInt(9).pow(d - 1) * BigInt(10).pow(12 - d)).toLong})")
        .mkString(", ")
      s"WITH a AS ($bm25TopkOracleSql), b AS ($qlTopkOracleSql), " +
        "c AS (SELECT a.query_id, a.doc_id, greatest(a.rank, b.rank) AS dmin " +
        "FROM a JOIN b USING (query_id, doc_id)), " +
        "t AS (SELECT query_id, unnest(range(dmin, 11)) AS d FROM c), " +
        "o AS (SELECT query_id, d, count(*) AS od FROM t GROUP BY query_id, d), " +
        s"w(d, wn) AS (VALUES $ws), " +
        "tm AS (SELECT query_id, CAST(sum((wn * od) // d) AS BIGINT) AS rbo_e12 " +
        "FROM o JOIN w USING (d) GROUP BY query_id), " +
        "n AS (SELECT query_id, count(*) AS n_common FROM c GROUP BY query_id), " +
        "qa AS (SELECT DISTINCT query_id FROM a) " +
        "SELECT qa.query_id, COALESCE(rbo_e12, 0) AS rbo_e12, " +
        "CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common " +
        "FROM qa LEFT JOIN tm USING (query_id) LEFT JOIN n USING (query_id)"
    },

    "drift_ks_doclen" ->
      ("WITH v AS (SELECT n_chars AS _v, " +
        "(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80) AS is_a " +
        "FROM documents), " +
        "c AS (SELECT _v, count(CASE WHEN is_a THEN 1 END) AS ca, " +
        "count(CASE WHEN NOT is_a THEN 1 END) AS cb FROM v GROUP BY _v), " +
        "t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM c), " +
        "f AS (SELECT _v, sum(ca) OVER (ORDER BY _v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fa, " +
        "sum(cb) OVER (ORDER BY _v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fb FROM c) " +
        "SELECT n_a, n_b, CAST(max(abs(fa * n_b - fb * n_a)) AS BIGINT) AS d_num, " +
        "CAST(CAST(max(abs(fa * n_b - fb * n_a)) AS HUGEINT) * 1000000 // " +
        "(CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_ppm " +
        "FROM f CROSS JOIN t GROUP BY n_a, n_b"),

    // ranking eval over the SAME bm25 run CTE: graded rel =
    // (doc_id·7 + qid) mod 4, the ⌊10⁶/log₂(i+1)⌋ discount ladder as a
    // VALUES table (RankEval.discountsMu literals), gains as shifts,
    // NDCG/MRR as BIGINT floor division
    "text_ndcg_eval" -> {
      val discVals = RankEval.discountsMu(10).zipWithIndex
        .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
      s"WITH ranked AS ($bm25TopkOracleSql), " +
        "rels AS (SELECT CAST(q.query_id AS BIGINT) AS query_id, d.doc_id, " +
        "(d.doc_id * 7 + q.query_id) % 4 AS rel FROM documents d " +
        s"CROSS JOIN (VALUES (0), (1), (2)) q(query_id) WHERE d.doc_id < $ndcgPoolMax), " +
        s"disc(dr, dmu) AS (VALUES $discVals), " +
        "tk AS (SELECT r.query_id, r.rank, COALESCE(rl.rel, 0) AS rel " +
        "FROM ranked r LEFT JOIN rels rl ON rl.query_id = r.query_id " +
        "AND rl.doc_id = r.doc_id WHERE r.rank <= 10), " +
        "run AS (SELECT query_id, sum(((1 << rel) - 1) * dmu) AS dcg_mu, " +
        "min(CASE WHEN rel >= 2 THEN rank END) AS fr, " +
        "sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS nrt " +
        "FROM tk JOIN disc ON disc.dr = tk.rank GROUP BY query_id), " +
        "ideal AS (SELECT query_id, sum(((1 << rel) - 1) * dmu) AS idcg_mu " +
        "FROM (SELECT query_id, rel, doc_id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY rel DESC, doc_id) AS ir FROM rels) i " +
        "JOIN disc ON disc.dr = i.ir WHERE i.ir <= 10 GROUP BY query_id), " +
        "pool AS (SELECT query_id, sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) " +
        "AS n_rel_pool FROM rels GROUP BY query_id) " +
        "SELECT query_id, CAST(COALESCE(run.dcg_mu, 0) AS BIGINT) AS dcg_mu, " +
        "CAST(ideal.idcg_mu AS BIGINT) AS idcg_mu, " +
        "CAST(CASE WHEN ideal.idcg_mu > 0 THEN " +
        "(COALESCE(run.dcg_mu, 0) * 1000000) // ideal.idcg_mu ELSE 0 END " +
        "AS BIGINT) AS ndcg_ppm, " +
        "CAST(CASE WHEN run.fr IS NOT NULL THEN 1000000 // run.fr ELSE 0 END " +
        "AS BIGINT) AS mrr_ppm, " +
        "CAST(COALESCE(run.nrt, 0) * 100000 AS BIGINT) AS prec_ppm, " +
        "CAST(pool.n_rel_pool AS BIGINT) AS n_rel_pool " +
        "FROM ideal JOIN pool USING (query_id) LEFT JOIN run USING (query_id)"
    },

    // contrastive negatives: the same 48-bit md5 draw, smallest-k per
    // anchor (h ASC ≡ the Spark side's -h DESC)
    "corpus_negatives" ->
      s"""WITH a AS (SELECT doc_id AS aid, source AS asrc FROM documents
        |           WHERE doc_id < $negAnchorMax),
        |cand AS (SELECT aid, c.doc_id AS nid,
        |  ('0x' || substring(md5(aid::VARCHAR || ':' || c.doc_id::VARCHAR), 1, 12))::BIGINT AS h
        |  FROM a JOIN documents c ON c.doc_id <> a.aid AND c.source <> a.asrc)
        |SELECT aid AS anchor_id, CAST(rn AS INTEGER) AS rank, nid AS neg_id
        |FROM (SELECT *, row_number() OVER (PARTITION BY aid ORDER BY h, nid) AS rn
        |      FROM cand) WHERE rn <= 5""".stripMargin,

    // positional postings: unnest aligns with generate_subscripts in
    // DuckDB; the gap encode is list_transform with an index — the same
    // element-wise shift as Spark's zip_with
    "text_boolean_search" -> booleanSearchOracleSql,

    "text_phrase_search" -> phraseSearchOracleSql,

    "text_postings" ->
      (s"WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "p AS (SELECT doc_id, unnest(toks) AS term, " +
        "generate_subscripts(toks, 1) - 1 AS pos FROM d), " +
        "g AS (SELECT term, doc_id, count(*) AS tf, " +
        "list_sort(list(pos)) AS ps FROM p GROUP BY term, doc_id), " +
        "dfs AS (SELECT term, count(*) AS df FROM g GROUP BY term), " +
        "sel AS (SELECT g.term, g.doc_id, g.tf, dfs.df, g.ps FROM g " +
        "JOIN dfs ON g.term = dfs.term WHERE df BETWEEN 10 AND 50) " +
        "SELECT term, doc_id, tf, df, " +
        "array_to_string(list_transform(range(1, len(ps) + 1), " +
        "i -> CAST(ps[i] - CASE WHEN i = 1 THEN 0 ELSE ps[i-1] END AS VARCHAR)), '|') AS deltas " +
        "FROM sel"),

    "text_posting_costs" ->
      (s"WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "p1 AS (SELECT doc_id, unnest(toks) AS term FROM d), " +
        "p AS (SELECT DISTINCT doc_id, term FROM p1), " +
        "g AS (SELECT term, doc_id - COALESCE(lag(doc_id) OVER " +
        "(PARTITION BY term ORDER BY doc_id), -1) AS gap FROM p), " +
        "b AS (SELECT term, count(*) AS df, " +
        "CAST(sum(2 * length(bin(gap)) - 1) AS BIGINT) AS gamma_bits FROM g GROUP BY term) " +
        "SELECT term, df, gamma_bits, (gamma_bits + 7) // 8 AS bytes_est " +
        "FROM b ORDER BY df DESC, term LIMIT 50"),

    // add-one bigram LM cross-entropy; -ln terms summed as DECIMAL
    "text_perplexity" ->
      (s"WITH $pplBodySql " +
        "SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, " +
        "coalesce(round(CAST(s.s AS DOUBLE) / s.n_bigrams, 6), 0.0) AS cross_entropy " +
        "FROM d LEFT JOIN s USING (doc_id)"),

    // same per-doc CE body + round(6) as text_perplexity, then the
    // source rollup and the one-step EG update — exp rides the same
    // cross-engine-libm precedent as the model's ln
    "corpus_doremi_weights" ->
      (s"WITH $pplBodySql, " +
        "ce AS (SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, " +
        "coalesce(round(CAST(s.s AS DOUBLE) / s.n_bigrams, 6), 0.0) AS ce " +
        "FROM d LEFT JOIN s USING (doc_id)), " +
        "srcm AS (SELECT doc_id, source FROM documents), " +
        "bs AS (SELECT source, CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams, " +
        "sum(CAST(ce AS DECIMAL(27,12)) * n_bigrams) AS sv " +
        "FROM ce JOIN srcm USING (doc_id) GROUP BY source), " +
        "tot AS (SELECT CAST(sum(sv) AS DOUBLE) AS st, CAST(sum(n_bigrams) AS DOUBLE) AS bt FROM bs), " +
        "sc AS (SELECT source, n_bigrams, CASE WHEN n_bigrams > 0 " +
        "THEN CAST(sv AS DOUBLE) / n_bigrams ELSE 0.0 END AS avgv FROM bs), " +
        "sc2 AS (SELECT source, n_bigrams, avgv, " +
        "CAST(exp(1.0 * (avgv - st / bt)) AS DECIMAL(27,12)) AS e FROM sc, tot), " +
        "nrm AS (SELECT sum(e) AS en FROM sc2) " +
        "SELECT source, n_bigrams, " +
        "CAST(floor(avgv * 1000000) AS BIGINT) AS avg_nll_us, " +
        "CAST(floor(CAST(e AS DOUBLE) * 1000000 / CAST(en AS DOUBLE)) AS BIGINT) AS weight_ppm " +
        "FROM sc2, nrm"),

    // shared per-doc cross-entropy body, then exact tercile thresholds
    // (quantile_cont ≡ percentile, the calibrate precedent; the 1/3 and
    // 2/3 doubles interpolate from the SAME Scala computation)
    "corpus_ppl_buckets" ->
      (s"WITH $pplBodySql, " +
        "ce AS (SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, " +
        "coalesce(round(CAST(s.s AS DOUBLE) / s.n_bigrams, 6), 0.0) AS cross_entropy " +
        "FROM d LEFT JOIN s USING (doc_id)), " +
        s"th AS (SELECT quantile_cont(cross_entropy, ${1.0 / 3}::DOUBLE) AS t1, " +
        s"quantile_cont(cross_entropy, ${2.0 / 3}::DOUBLE) AS t2 FROM ce), " +
        "b AS (SELECT CASE WHEN cross_entropy <= th.t1 THEN 'head' " +
        "WHEN cross_entropy <= th.t2 THEN 'middle' ELSE 'tail' END AS bucket, " +
        "n_bigrams FROM ce, th) " +
        "SELECT bucket, count(*) AS n_docs, " +
        "CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams FROM b GROUP BY bucket"),

    // stupid backoff: seen bigram → c2/c1; else α·(c(w2)+1)/(N+V)
    "text_backoff_heldout" ->
      (s"WITH d AS (SELECT doc_id, $sqlToks AS toks, " +
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b FROM documents), " +
        "tr AS (SELECT * FROM d WHERE b < 80), " +
        "ho AS (SELECT * FROM d WHERE b >= 80), " +
        "g2 AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS gram FROM tr), " +
        "c2 AS (SELECT gram, count(*) AS c2 FROM g2 GROUP BY gram), " +
        "u AS (SELECT unnest(toks) AS w1 FROM tr), " +
        "c1 AS (SELECT w1, count(*) AS c1 FROM u GROUP BY w1), " +
        "v AS (SELECT count(*) AS n_vocab, CAST(sum(c1) AS BIGINT) AS n_tokens FROM c1), " +
        "hg AS (SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1, " +
        "string_split(gram, ' ')[2] AS w2 FROM " +
        "(SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS gram FROM ho)), " +
        "s AS (SELECT doc_id, count(*) AS n_bigrams, " +
        "sum(CAST(-ln(CASE WHEN coalesce(c2.c2, 0) > 0 THEN c2.c2 / CAST(c1.c1 AS DOUBLE) " +
        "ELSE 0.4 * (coalesce(cw2.c1, 0) + 1.0) / (v.n_tokens + v.n_vocab) END) AS DECIMAL(27,12))) AS s " +
        "FROM hg LEFT JOIN c2 USING (gram) LEFT JOIN c1 USING (w1) " +
        "LEFT JOIN c1 cw2 ON cw2.w1 = hg.w2 CROSS JOIN v GROUP BY doc_id) " +
        "SELECT ho.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, " +
        "coalesce(round(CAST(s.s AS DOUBLE) / s.n_bigrams, 6), 0.0) AS bo_cross_entropy " +
        "FROM ho LEFT JOIN s USING (doc_id)"),

    // winnowing: per-position window minima over md5-prefix n-gram hashes
    "text_winnow" ->
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS grams FROM t), " +
        s"h AS (SELECT doc_id, list_transform(grams, g -> ${sqlMd5Long("g")}) AS hs FROM g), " +
        "w AS (SELECT doc_id, CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[]) " +
        "ELSE list_sort(list_distinct(list_transform(range(1, greatest(len(hs) - 3, 1) + 1), " +
        "i -> list_min(hs[i:i+3])))) END AS fps FROM h) " +
        "SELECT doc_id, coalesce(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), '|'), '') AS fps FROM w"),

    // anchor-mode IVF: centroids = the 16 lowest-id vectors; cosine cell
    // assignment (ties → lowest cid), each query probes its 4
    // cosine-nearest cells, probed candidates ranked top-5 (ties → nid) —
    // the full train→index→probe→top-k pipeline recomputed in SQL
    "ann_ivf_topk" -> ivfAnchorOracleSql(4),

    // the same IVF pipeline at each probe width, macro recall vs the
    // brute-force CTE (shared `ex` leg), floor-ppm
    "ann_nprobe_curve" -> {
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
    },

    // anchor cells = the 8 lowest-id vectors; L2 assignment argmax
    // (2·v·c − |c|²) with ties to the lowest cell id, cosine pair filter;
    // cells with more than 1000 members are excluded from pairing (the
    // engine's maxCell skew guard, recomputed here)
    "dedup_semantic" ->
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
        "FROM asg LEFT JOIN p ON asg.vec_id = p.drop_id"),

    // cluster profile: same anchor centroids + argmax assignment as
    // dedup_semantic, then per-cell cohesion (decimal-summed cosine) and
    // top-1 label by (count DESC, label ASC)
    "corpus_cluster" ->
      ("WITH cent AS (SELECT vec_id AS cid, embedding AS cvec, " +
        "sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS cnorm " +
        "FROM embeddings ORDER BY vec_id LIMIT 8), " +
        "sc AS (SELECT e.vec_id, c.cid, " +
        "2.0 * list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE)) - c.cnorm * c.cnorm AS s " +
        "FROM embeddings e CROSS JOIN cent c), " +
        "asg AS (SELECT vec_id, cid AS cell FROM (SELECT vec_id, cid, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sc) WHERE rn = 1), " +
        "n AS (SELECT vec_id, sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nn FROM embeddings), " +
        "cosd AS (SELECT a.vec_id, a.cell, " +
        "CASE WHEN n.nn > 0 THEN list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE)) / (n.nn * c.cnorm) ELSE 0.0 END AS cos " +
        "FROM asg a JOIN embeddings e USING (vec_id) JOIN n USING (vec_id) JOIN cent c ON c.cid = a.cell), " +
        "st AS (SELECT cell, count(*) AS n_vectors, sum(CAST(cos AS DECIMAL(27,12))) AS s FROM cosd GROUP BY cell), " +
        "bl AS (SELECT cell, label, count(*) AS c FROM asg JOIN embeddings USING (vec_id) GROUP BY cell, label), " +
        "top AS (SELECT cell, label AS top_label, c FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY cell ORDER BY c DESC, label) AS rn FROM bl) WHERE rn = 1) " +
        "SELECT st.cell, st.n_vectors, round(CAST(st.s AS DOUBLE) / st.n_vectors, 6) AS mean_cos, " +
        "top.top_label, round(top.c::DOUBLE / st.n_vectors, 6) AS top_label_share " +
        "FROM st JOIN top USING (cell)"),

    // integer-exact ppm mixture rates: // is DuckDB floor division,
    // mirroring the engine's decimal-exact (a - a mod b) / b
    "corpus_mixture" ->
      (s"WITH t AS (SELECT doc_id, lang, len($sqlToks) AS ntok FROM documents), " +
        "tot AS (SELECT lang, CAST(sum(ntok) AS BIGINT) AS total, " +
        "CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 20 ELSE 10 END AS share " +
        "FROM t GROUP BY lang), " +
        "r AS (SELECT lang, CASE WHEN total > 0 THEN " +
        "least(1000000, (1000000::BIGINT * ((10000::BIGINT * share) // 100)) // total) ELSE 0 END AS rate FROM tot) " +
        "SELECT t.doc_id, t.lang, CAST(r.rate AS BIGINT) AS rate_ppm " +
        "FROM t JOIN r USING (lang) " +
        "WHERE ('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 < r.rate"),

    // α=0.5 temperature shares: sqrt is correctly rounded by IEEE in both
    // engines; everything after the micro-unit quantization is integer
    "corpus_temperature" ->
      (s"WITH t AS (SELECT source, len($sqlToks) AS ntok FROM documents), " +
        "tot AS (SELECT source AS stratum, CAST(sum(ntok) AS BIGINT) AS n_tokens " +
        "FROM t GROUP BY source), " +
        "wu AS (SELECT stratum, n_tokens, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000, 0) AS BIGINT) AS weight_us FROM tot), " +
        // HUGEINT before the ×10⁶ so the oracle is exact to the same ~1e18
        // token volumes as the engine's DECIMAL(38,0); CASE guards the
        // all-empty corpus (Σweight_us = 0 ⇒ share 0, not NULL)
        "sh AS (SELECT *, CASE WHEN (SELECT sum(weight_us) FROM wu) > 0 THEN " +
        "(CAST(weight_us AS HUGEINT) * 1000000) // (SELECT sum(weight_us) FROM wu) " +
        "ELSE 0 END AS share_ppm FROM wu) " +
        "SELECT stratum, n_tokens, weight_us, CAST(share_ppm AS BIGINT) AS share_ppm, " +
        "CAST(CASE WHEN n_tokens > 0 THEN least(1000000, " +
        s"((($tempBudgetTokens::HUGEINT * share_ppm) // 1000000) * 1000000) // n_tokens) " +
        "ELSE 0 END AS BIGINT) AS rate_ppm FROM sh"),

    "text_chunk" ->
      (s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "c AS (SELECT doc_id, CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(0, 1 + CAST(ceil(greatest(len(toks) - 64, 0) / 48.0) AS INTEGER)), " +
        "i -> array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ')) END AS chunks FROM t) " +
        "SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx, chunk AS chunk_text " +
        "FROM (SELECT doc_id, unnest(chunks) AS chunk, " +
        "unnest(range(0, len(chunks))) AS i FROM c)"),

    "corpus_pack" ->
      (s"WITH t0 AS (SELECT doc_id, len($sqlToks) AS n_tokens FROM documents), " +
        // shard count recomputed from the same volume rule as the engine:
        // ceil(total / 8192), at least 1
        "ns AS (SELECT greatest(1, CAST(ceil(sum(n_tokens) / 8192.0) AS BIGINT)) AS n FROM t0), " +
        "t AS (SELECT doc_id, n_tokens, " +
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % n AS shard " +
        "FROM t0, ns), " +
        "c AS (SELECT doc_id, n_tokens, shard, " +
        "sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens AS prev FROM t) " +
        "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, shard, " +
        "CAST(floor(prev / 512.0) AS BIGINT) AS bin, " +
        "CAST(prev - CAST(floor(prev / 512.0) AS BIGINT) * 512 AS BIGINT) AS offset_in_bin " +
        "FROM c"),

    "text_rolling_fp" ->
      ("SELECT doc_id, CASE WHEN length(text) = 0 THEN 0 ELSE " +
        "list_reduce(list_transform(string_split(lower(text), ''), " +
        "c -> CAST(unicode(c) AS BIGINT)), " +
        "(a, b) -> (a * 1000003 + b) % 1000000000000) END AS rolling_fp " +
        "FROM documents"),

    "media_meta" ->
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
        |FROM documents""".stripMargin,

    // blockhash recomputed from the generator's pixel ramp; pairs via the
    // SAME banded join + hot-bucket cap as the engine (sqlBandedHashPairs
    // — capGroups mirrored; on sub-cap families this equals brute force,
    // the pigeonhole-recall guarantee at hamming ≤ 3)
    "media_phash_dedup" -> sqlBandedHashPairs(
      "WITH img AS (SELECT doc_id AS id, 4 + doc_id % 16 AS w, " +
        "4 + doc_id % 9 AS hh FROM documents WHERE doc_id % 3 = 0), " +
        "hb AS (SELECT id, 3*w*hh AS n, " +
        "list_sum(list_transform(range(0, 3*w*hh), j -> (id*7 + j) % 256)) AS total FROM img), " +
        "ph AS (SELECT id, CAST(list_sum(list_transform(range(0, 60), s -> " +
        "CASE WHEN list_sum(list_transform(range(s*n//60, (s+1)*n//60), j -> (id*7 + j) % 256)) * n " +
        "> total * ((s+1)*n//60 - s*n//60) " +
        "THEN (1::BIGINT << s) ELSE 0 END)) AS BIGINT) AS h FROM hb)"),

    "events_props_profile" ->
      ("WITH p AS (SELECT event_type, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) " +
        "SELECT event_type, count(*) AS n_events, count(k) AS n_with_k, " +
        "min(k) AS min_k, max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k " +
        "FROM p GROUP BY 1"),

    "media_scene_changes" ->
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
        "FROM pr"),

    // energy-envelope hash recomputed from the generator's sample formula;
    // pairs via the mirrored banded join + hot-bucket cap — the envelope
    // family is degenerately self-similar, so the cap genuinely binds
    // here (188 surviving pairs of 9566 uncapped at sf0.01)
    "media_audio_dedup" -> sqlBandedHashPairs(
      "WITH aud AS (SELECT doc_id AS id, 8*(10 + doc_id % 50) AS n " +
        "FROM documents WHERE doc_id % 3 = 1), " +
        "hb AS (SELECT id, n, " +
        "list_sum(list_transform(range(0, n), k -> abs(((id*13 + k*97) % 65536) - 32768))) AS total FROM aud), " +
        "ph AS (SELECT id, CAST(list_sum(list_transform(range(0, 60), s -> " +
        "CASE WHEN list_sum(list_transform(range(s*n//60, (s+1)*n//60), k -> abs(((id*13 + k*97) % 65536) - 32768))) * n " +
        "> total * ((s+1)*n//60 - s*n//60) " +
        "THEN (1::BIGINT << s) ELSE 0 END)) AS BIGINT) AS h FROM hb)"),

    // every frame hash + the majority vote rebuilt from the byte formula;
    // empty 60-segments (fb < 60) yield NULL list_sum → CASE falls to 0,
    // matching the engine's empty-segment bit 0; pairs via the mirrored
    // banded join + hot-bucket cap
    "media_video_dedup" -> sqlBandedHashPairs(
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
        "THEN (1::BIGINT << s) ELSE 0 END)) AS BIGINT) AS h FROM vh0)"),

    "media_audio_quality" ->
      ("WITH aud AS (SELECT doc_id AS id, 8*(10 + doc_id % 50) AS n " +
        "FROM documents WHERE doc_id % 3 = 1), " +
        "q AS (SELECT id, n, " +
        "len(list_filter(range(0, n), k -> abs(((id*13 + k*97) % 65536) - 32768) < 1000)) AS silent, " +
        "len(list_filter(range(0, n), k -> abs(((id*13 + k*97) % 65536) - 32768) >= 32000)) AS clipped " +
        "FROM aud) " +
        "SELECT id AS media_id, CAST(n AS BIGINT) AS n_samples, " +
        "CAST(silent * 1000000 // n AS BIGINT) AS silence_ppm, " +
        "CAST(clipped * 1000000 // n AS BIGINT) AS clip_ppm FROM q"),

    // expected decode results recomputed from the generator constants
    // (dims/sample formulas in Multimodal.scala) — NOT from the binary,
    // which only the engine-side decoder reads
    "media_features" ->
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
        "(SELECT * FROM imgf UNION ALL SELECT * FROM audf UNION ALL SELECT * FROM vidf)"),

    "events_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin,

    // same per-doc payloads rebuilt with chr() (769 = U+0301 combining
    // acute, 778 = U+030A combining ring; 233/197/243 = the precomposed
    // twins), DuckDB's UAX#15 nfc_normalize vs the engine's
    // graft_normalize expression
    "corpus_nfc_normalize" ->
      ("WITH f AS (SELECT " +
        "'doc' || doc_id || ' cafe' || chr(769) || ' A' || chr(778) || ' ro' || chr(769) || 'le' AS d, " +
        "'doc' || doc_id || ' caf' || chr(233) || ' ' || chr(197) || ' r' || chr(243) || 'le' AS p " +
        "FROM documents) " +
        "SELECT count(*) AS n_docs, " +
        "count(CASE WHEN d = p THEN 1 END) AS n_raw_equal, " +
        "count(CASE WHEN nfc_normalize(d) = nfc_normalize(p) THEN 1 END) AS n_nfc_equal, " +
        "CAST(sum(length(d)) AS BIGINT) AS len_raw, " +
        "CAST(sum(length(nfc_normalize(d))) AS BIGINT) AS len_nfc FROM f"),

    // reading ease: vowel-run syllable proxy, [.!?]+ sentence runs, all
    // floor divisions on non-negative operands except the final
    // per-source average (pmod form — scores can be negative)
    "text_reading_ease" ->
      (s"WITH d AS (SELECT source, CAST(len($sqlToks) AS BIGINT) AS w, " +
        "CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS s, " +
        "CAST(greatest(len(regexp_extract_all(lower(text), '[aeiou]+')), 1) AS BIGINT) AS y " +
        "FROM documents), " +
        "p AS (SELECT source, (w * 1000000) // s AS a, (y * 1000000) // w AS b FROM d WHERE w > 0), " +
        "f AS (SELECT source, a, b, 206835000 - (1015 * a) // 1000 - (846 * b) // 10 AS fu FROM p), " +
        "g AS (SELECT source, count(*) AS n_docs, sum(a) AS sa, sum(b) AS sb, sum(fu) AS sf FROM f GROUP BY 1) " +
        "SELECT source, n_docs, CAST(sa // n_docs AS BIGINT) AS avg_wps_us, " +
        "CAST(sb // n_docs AS BIGINT) AS avg_spw_us, " +
        "CAST((sf - (((sf % n_docs) + n_docs) % n_docs)) // n_docs AS BIGINT) AS avg_flesch_u " +
        "FROM g"),

    // the four shared RE2 pattern constants, counted independently
    // the card count is the Luhn-gated one — same candidate regex, same
    // shared mod-10 fold SQL as the redaction twin
    "text_entity_counts" ->
      (s"WITH p AS (SELECT " +
        s"len(regexp_extract_all(text, '${TextFunctions.UrlRe}')) AS u, " +
        s"len(regexp_extract_all(text, '${TextFunctions.EmailRe}')) AS e, " +
        s"len(regexp_extract_all(text, '${TextFunctions.IpRe}')) AS i, " +
        s"len(list_filter(regexp_extract_all(text, '${TextFunctions.CardRe}'), " +
        s"c -> ${TextFunctions.luhnSumSql("c")} % 10 = 0)) AS cd, " +
        s"len(list_filter(regexp_extract_all(text, '${TextFunctions.IbanRe}'), " +
        s"c -> ${TextFunctions.ibanMod97Sql("c")} = 1)) AS ib, " +
        s"len(regexp_extract_all(text, '${TextFunctions.PhoneRe}')) AS ph " +
        "FROM documents) " +
        "SELECT count(*) AS n_docs, CAST(sum(u) AS BIGINT) AS n_urls, " +
        "CAST(sum(e) AS BIGINT) AS n_emails, CAST(sum(i) AS BIGINT) AS n_ips, " +
        "CAST(sum(cd) AS BIGINT) AS n_cards, " +
        "CAST(sum(ib) AS BIGINT) AS n_ibans, " +
        "CAST(sum(ph) AS BIGINT) AS n_phones, " +
        "count(CASE WHEN u + e + i + cd + ib + ph > 0 THEN 1 END) AS n_docs_with_any " +
        "FROM p"),

    "skew_join_forecast" ->
      ("WITH l AS (SELECT user_id AS key, count(*) AS left_rows FROM events " +
        "WHERE event_type = 'click' GROUP BY 1), " +
        "r AS (SELECT user_id AS key, count(*) AS right_rows FROM events " +
        "WHERE event_type = 'purchase' GROUP BY 1) " +
        "SELECT key, left_rows, right_rows, " +
        "CAST(CAST(left_rows AS HUGEINT) * right_rows AS BIGINT) AS out_rows " +
        s"FROM l JOIN r USING (key) ORDER BY out_rows DESC, key LIMIT $joinForecastK"),

    "dim_upsert" ->
      ("WITH b AS (SELECT o_orderkey, CAST(floor(o_totalprice * 1000000) AS BIGINT) AS price_us, " +
        "0 AS version FROM orders), " +
        s"u AS (SELECT o_orderkey, price_us * 2 AS price_us, 1 AS version FROM b WHERE o_orderkey % $upsertMod = 0), " +
        "al AS (SELECT * FROM b UNION ALL SELECT * FROM u) " +
        "SELECT o_orderkey, price_us, version FROM " +
        // payload (price_us) joins the ORDER BY so the oracle pins the same
        // max(struct(version, payload)) total order Scd.upsertLatest uses —
        // without it a version tie would make the oracle nondeterministic
        "(SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC, price_us DESC) AS rn FROM al) " +
        "WHERE rn = 1"),

    "w8_running_total" ->
      ("SELECT o_custkey, o_orderkey, " +
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date, " +
        "CAST(sum(CAST(floor(o_totalprice * 1000000) AS HUGEINT)) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_value_us " +
        "FROM orders"),

    "events_daily_delta" ->
      ("WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "count(*) AS n_events FROM events GROUP BY 1) " +
        "SELECT day, n_events, COALESCE(n_events - lag(n_events, 1) " +
        "OVER (ORDER BY day), 0) AS delta FROM d"),

    // same full-outer shape, same arg_max version stamp
    "j8_merge_upsert" ->
      ("WITH tgt AS (SELECT c_custkey, c_name, " +
        "CAST(floor(c_acctbal * 1000000) AS BIGINT) AS acctbal_us, c_mktsegment FROM customer), " +
        "up0 AS (SELECT o_custkey AS c_custkey, " +
        "arg_max(o_orderstatus, o_orderkey) AS last_status, " +
        "CAST(sum(CAST(floor(o_totalprice * 1000000) AS HUGEINT)) AS BIGINT) AS acctbal_us " +
        "FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01' GROUP BY 1), " +
        "up AS (SELECT * FROM up0 UNION ALL " +
        "SELECT -c_custkey, last_status, 0 FROM up0) " +
        "SELECT COALESCE(t.c_custkey, u.c_custkey) AS c_custkey, " +
        "t.c_name, COALESCE(u.acctbal_us, t.acctbal_us) AS acctbal_us, " +
        "t.c_mktsegment, u.last_status " +
        "FROM tgt t FULL OUTER JOIN up u ON t.c_custkey = u.c_custkey"),

    // same island detection, same (ts, event_id) tie-break
    "w9_scd2_intervals" ->
      ("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events), " +
        "c AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL " +
        "OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS grp FROM c), " +
        "runs AS (SELECT user_id, grp, event_type, " +
        "CAST(min(ts_us) AS BIGINT) AS valid_from_us, count(*) AS n_events " +
        "FROM g GROUP BY 1, 2, 3) " +
        "SELECT user_id, event_type, valid_from_us, " +
        "lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY grp) AS valid_to_us, " +
        "CAST(n_events AS BIGINT) AS n_events FROM runs"),

    // CV² in exact integer ppm; nΣx²−Σ² and Σ² both ride HUGEINT (gap
    // sums exceed BIGINT² range); all operands non-negative so `//` ≡
    // the engine's floor
    "events_burstiness" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
        "g AS (SELECT user_id, us - lag(us) OVER " +
        "(PARTITION BY user_id ORDER BY us, event_id) AS gap FROM e), " +
        "st AS (SELECT user_id, count(*) AS n, " +
        "sum(CAST(gap AS HUGEINT)) AS sx, " +
        "sum(CAST(gap AS HUGEINT) * gap) AS sxx FROM g " +
        "WHERE gap IS NOT NULL GROUP BY 1), " +
        "cv AS (SELECT CAST(((n * sxx - sx * sx) * 1000000) // (sx * sx) AS BIGINT) AS cv2_ppm " +
        "FROM st WHERE n >= 2 AND sx > 0) " +
        "SELECT CAST(len(bin(cv2_ppm)) AS BIGINT) AS bucket, " +
        "count(*) AS n_users, min(cv2_ppm) AS min_cv2_ppm, " +
        "max(cv2_ppm) AS max_cv2_ppm FROM cv GROUP BY 1"),

    // both medians materialized by rank (the type-1 quantile the engine
    // bisects to); same k for count and deviation medians (same n)
    "events_robust_anomaly" ->
      ("WITH c AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "count(*) AS n_events FROM events GROUP BY 1, 2), " +
        "nn AS (SELECT event_type, count(*) AS n FROM c GROUP BY 1), " +
        "mk AS (SELECT event_type, greatest(1, (500000 * n + 999999) // 1000000) AS k FROM nn), " +
        "mr AS (SELECT event_type, n_events, row_number() OVER (PARTITION BY event_type ORDER BY n_events) AS rn FROM c), " +
        "med AS (SELECT mr.event_type AS event_type, mr.n_events AS med FROM mr " +
        "JOIN mk ON mk.event_type = mr.event_type AND mr.rn = mk.k), " +
        "d AS (SELECT c.event_type AS event_type, c.day, c.n_events, med.med, " +
        "abs(c.n_events - med.med) AS adev FROM c JOIN med ON med.event_type = c.event_type), " +
        "dr AS (SELECT event_type, adev, row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn FROM d), " +
        "mad AS (SELECT dr.event_type AS event_type, dr.adev AS mad FROM dr " +
        "JOIN mk ON mk.event_type = dr.event_type AND dr.rn = mk.k) " +
        "SELECT d.event_type AS event_type, d.day, d.n_events, d.med AS med, mad.mad AS mad, " +
        "CAST(CASE WHEN abs(d.n_events - d.med) > 3 * mad.mad THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly " +
        "FROM d JOIN mad ON mad.event_type = d.event_type"),

    // same sessionizer CTE, then the log2 histogram; durations and the
    // floor-mean all exact integers
    "events_session_hist" ->
      ("WITH e AS (SELECT user_id, ts FROM events), " +
        "g AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns " +
        "FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e)), " +
        "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS session_seq FROM g), " +
        "sess AS (SELECT user_id, session_seq, count(*) AS n_events, " +
        "epoch_us(max(ts)) - epoch_us(min(ts)) AS dur FROM s GROUP BY 1, 2) " +
        "SELECT CAST(len(bin(n_events)) AS BIGINT) AS bucket, " +
        "count(*) AS n_sessions, min(n_events) AS min_events, " +
        "max(n_events) AS max_events, " +
        "CAST((sum(CAST(dur AS HUGEINT)) - ((sum(CAST(dur AS HUGEINT)) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS mean_duration_us " +
        "FROM sess GROUP BY 1"),

    // the corpus_diversity Simpson oracle over the supply chain; the
    // filter keeps fully-single-sourced parts
    "parts_supplier_diversity" ->
      ("WITH p AS (SELECT l_partkey AS stratum, l_suppkey AS source, count(*) AS c " +
        "FROM lineitem GROUP BY 1, 2), " +
        "a AS (SELECT stratum, sum(c) AS n_docs, count(*) AS n_sources, " +
        "sum(CAST(c AS HUGEINT) * c) AS sq, max(c) AS cmax FROM p GROUP BY 1), " +
        "r AS (SELECT stratum, CAST(n_docs AS BIGINT) AS n_docs, n_sources, " +
        "CAST((sq * 1000000) // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS simpson_ppm, " +
        "CAST((CAST(cmax AS HUGEINT) * 1000000) // CAST(n_docs AS HUGEINT) AS BIGINT) AS top_share_ppm FROM a) " +
        "SELECT * FROM r ORDER BY simpson_ppm DESC, stratum LIMIT 50"),

    // non-negative MAE numerators → // is exact floor; day+INT arithmetic
    "events_forecast_naive" ->
      ("WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "count(*) AS c FROM events GROUP BY 1, 2), " +
        "w AS (SELECT a.event_type, count(*) AS n_w, " +
        "CAST((sum(CAST(abs(a.c - b.c) AS HUGEINT)) * 1000000) // count(*) AS BIGINT) AS maew_us " +
        "FROM d a JOIN d b ON a.event_type = b.event_type AND a.day = b.day + CAST(7 AS INTEGER) GROUP BY 1), " +
        "o AS (SELECT a.event_type, count(*) AS n_d, " +
        "CAST((sum(CAST(abs(a.c - b.c) AS HUGEINT)) * 1000000) // count(*) AS BIGINT) AS maed_us " +
        "FROM d a JOIN d b ON a.event_type = b.event_type AND a.day = b.day + CAST(1 AS INTEGER) GROUP BY 1) " +
        "SELECT w.event_type, n_w, maew_us, n_d, maed_us " +
        "FROM w JOIN o ON w.event_type = o.event_type"),

    // 7-way day fan-out + distinct ≡ the engine's WAU shape
    "events_stickiness" ->
      ("WITH ud AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "user_id AS u FROM events), " +
        "dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1), " +
        "w AS (SELECT DISTINCT day + CAST(o AS INTEGER) AS day, u FROM ud, range(0, 7) t(o)), " +
        "wau AS (SELECT day, count(*) AS wau FROM w GROUP BY 1) " +
        "SELECT dau.day AS day, dau.dau AS dau, wau.wau AS wau, " +
        "CAST((CAST(dau.dau AS HUGEINT) * 1000000) // wau.wau AS BIGINT) AS stickiness_ppm " +
        "FROM dau JOIN wau USING (day)"),

    // same array-literal membership test; empty lists cannot occur (the
    // n_hits > 0 gate) so array_to_string never sees NULL
    "corpus_blocklist" -> {
      val bl = blocklistTerms.map("'" + _ + "'").mkString("[", ",", "]")
      s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "h AS (SELECT doc_id, " +
        s"CAST(len(list_filter(toks, x -> list_contains($bl, x))) AS BIGINT) AS n_hits, " +
        s"array_to_string(list_sort(list_filter(list_distinct(toks), x -> list_contains($bl, x))), '|') AS matched_terms " +
        "FROM t) " +
        "SELECT doc_id, n_hits, matched_terms FROM h WHERE n_hits > 0"
    },

    "vocab_bigram_suggest" ->
      (s"WITH t AS (SELECT $sqlToks AS toks FROM documents), " +
        "g AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS gram FROM t), " +
        "c AS (SELECT string_split(gram, ' ')[1] AS w1, " +
        "string_split(gram, ' ')[2] AS w2, count(*) AS n FROM g GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2) AS rank FROM c) " +
        s"SELECT w1, w2, n, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= $bigramSuggestK"),

    "j8_outer_join" ->
      ("WITH c AS (SELECT c_custkey FROM customer WHERE c_acctbal >= 0), " +
        "o AS (SELECT DISTINCT o_custkey FROM orders) " +
        "SELECT count(CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 1 END) AS n_matched, " +
        "count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_customer_only, " +
        "count(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_order_only " +
        "FROM c FULL OUTER JOIN o ON c_custkey = o_custkey"),

    // top-k per hour with the total (count desc, type) order
    "events_top_types" ->
      (s"WITH h AS (SELECT date_trunc('hour', ts) AS hour, event_type, " +
        "count(*) AS n_events FROM events GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY hour " +
        "ORDER BY n_events DESC, event_type) AS rank FROM h) " +
        s"SELECT hour, event_type, n_events, CAST(rank AS INTEGER) AS rank " +
        s"FROM r WHERE rank <= $topTypesK"),

    // the count frame's top-k arms share the (count desc, token) total
    // order with the engine's TakeOrdered
    "vocab_coverage" -> {
      val arms = vocabCoverageKs.map { k =>
        s"k$k AS (SELECT CAST(sum(c) AS HUGEINT) AS s FROM " +
          s"(SELECT c FROM c ORDER BY c DESC, tok LIMIT $k))"
      }.mkString(", ")
      val sel = vocabCoverageKs.map { k =>
        s"SELECT CAST($k AS BIGINT) AS k, CAST(k$k.s AS BIGINT) AS covered_tokens, " +
          s"CAST(tot.n AS BIGINT) AS total_tokens, " +
          s"CAST((k$k.s * 1000000) // tot.n AS BIGINT) AS coverage_ppm " +
          s"FROM k$k, tot"
      }.mkString(" UNION ALL ")
      s"WITH t AS (SELECT $sqlToks AS toks FROM documents), " +
        "u AS (SELECT unnest(toks) AS tok FROM t), " +
        "c AS (SELECT tok, count(*) AS c FROM u GROUP BY tok), " +
        "tot AS (SELECT CAST(sum(c) AS HUGEINT) AS n FROM c), " +
        s"$arms $sel"
    },

    "events_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(epoch_us(ts)) AS s1_us FROM events
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS s2_us FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.s1_us
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS s3_us FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.s2_us
        |       GROUP BY 1)
        |SELECT u.user_id, s1_us, s2_us, s3_us,
        |  CAST(CASE WHEN s3_us IS NOT NULL THEN 3
        |            WHEN s2_us IS NOT NULL THEN 2
        |            WHEN s1_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)""".stripMargin,

    "events_retention" ->
      """WITH a AS (SELECT user_id,
        |             epoch_us(ts) - epoch_us(ts) % 86400000000 AS bucket_us
        |           FROM events),
        |c AS (SELECT user_id, min(bucket_us) AS cohort_us FROM a GROUP BY 1)
        |SELECT c.cohort_us,
        |  (a.bucket_us - c.cohort_us) // 86400000000 AS bucket_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM a JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin,

    // seasonality: epoch-day mod 7 buckets, exact integer ratios over
    // HUGEINT sums
    "events_seasonality" ->
      ("WITH e AS (SELECT (epoch_us(ts) // 86400000000) % 7 AS weekday, " +
        "CAST(floor(value * 1000000) AS BIGINT) AS val_us FROM events), " +
        "wd AS (SELECT weekday, count(*) AS n_events, " +
        "CAST(sum(val_us) AS HUGEINT) AS sm FROM e GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_events) AS HUGEINT) AS n_all, " +
        "CAST(sum(sm) AS HUGEINT) AS sum_all FROM wd) " +
        "SELECT weekday, n_events, CAST(sm AS BIGINT) AS value_sum_us, " +
        "CAST((n_events * 1000000) // n_all AS BIGINT) AS share_ppm, " +
        "CAST((sm * n_all * 1000000) // (n_events * sum_all) AS BIGINT) " +
        "AS value_index_ppm FROM wd CROSS JOIN tot"),

    // user features: identical VALUE-range frames (peers resolve by
    // value, not row order), empty sum frames coalesced to 0
    "events_user_features" ->
      ("WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, " +
        "event_type, CAST(floor(value * 1000000) AS BIGINT) AS val_us " +
        "FROM events) " +
        "SELECT event_id, user_id, t_us, " +
        "count(*) OVER (PARTITION BY user_id ORDER BY t_us " +
        "RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING) AS n_events_7d, " +
        "CAST(COALESCE(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY t_us " +
        "RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS clicks_7d, " +
        "CAST(COALESCE(sum(val_us) OVER (PARTITION BY user_id ORDER BY t_us " +
        "RANGE BETWEEN 2592000000000 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS value_30d_us, " +
        "CAST(COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY t_us " +
        "RANGE BETWEEN 1 FOLLOWING AND 86400000000 FOLLOWING), 0) AS BIGINT) " +
        "AS purchases_next_24h FROM e"),

    // cohort LTV: week buckets, µ-floored revenue, running window over
    // the cohort×age cells (default RANGE frame — age_wk is unique per
    // cohort so it equals ROWS)
    "events_cohort_ltv" ->
      (s"WITH a AS (SELECT user_id, epoch_us(ts) - epoch_us(ts) % $cohortWeekUs AS wk_us, " +
        "CAST(floor(value * 1000000) AS BIGINT) AS val_us FROM events), " +
        "c AS (SELECT user_id, min(wk_us) AS cohort_us FROM a GROUP BY 1), " +
        s"cell AS (SELECT c.cohort_us, (a.wk_us - c.cohort_us) // $cohortWeekUs AS age_wk, " +
        "count(DISTINCT a.user_id) AS n_active, sum(a.val_us) AS rev " +
        "FROM a JOIN c USING (user_id) GROUP BY 1, 2) " +
        "SELECT cohort_us, age_wk, n_active, CAST(rev AS BIGINT) AS rev_us, " +
        "CAST(sum(rev) OVER (PARTITION BY cohort_us ORDER BY age_wk) AS BIGINT) AS cum_rev_us " +
        "FROM cell"),

    "w5_set_ops" ->
      """WITH b AS (SELECT c_custkey AS k FROM customer
        |           WHERE c_mktsegment = 'BUILDING'),
        |u AS (SELECT o_custkey AS k FROM orders
        |      WHERE o_orderpriority = '1-URGENT')
        |SELECT 'both' AS tag, k FROM (SELECT k FROM b INTERSECT SELECT k FROM u)
        |UNION ALL
        |SELECT 'building_only', k FROM (SELECT k FROM b EXCEPT SELECT k FROM u)""".stripMargin,

    // the salted join IS the plain inner join — the oracle proves it
    "j7_salted_join" ->
      (s"WITH d(event_type, weight) AS (VALUES ${saltedDimLits.map { case (t, w) => s"('$t', $w)" }.mkString(", ")}) " +
        "SELECT event_type, weight, count(*) AS n, " +
        "count(DISTINCT user_id) AS n_users " +
        "FROM events JOIN d USING (event_type) GROUP BY event_type, weight"),

    "skew_report" ->
      s"""WITH c AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |           count(*) AS n_rows FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
        |      count(*) AS n_keys FROM c),
        |top AS (SELECT * FROM c, t ORDER BY n_rows DESC, key LIMIT $skewTopK)
        |SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, key) AS INTEGER) AS rank,
        |  key, n_rows,
        |  (1000000 * n_rows) // total_rows AS share_ppm,
        |  n_rows // greatest(total_rows // n_keys, 1) AS skew_x,
        |  least(greatest(n_rows // greatest(total_rows // n_keys, 1), 1), $skewMaxSalts) AS suggested_salts
        |FROM top""".stripMargin,

    "layout_zorder" -> zorderOracleSql,

    // quartile thresholds are type-1 order statistics of the µ-floored
    // columns (k = ⌈q·n⌉, materialized by rank — the engine bisects to the
    // same value); bit ops fully parenthesized (DuckDB's & and >> bind
    // below =)
    "layout_rank_zorder" ->
      ("WITH t AS (SELECT l_extendedprice AS a, l_quantity AS b, " +
        "CAST(floor(l_extendedprice * 1000000) AS BIGINT) AS ua, " +
        "CAST(floor(l_quantity * 1000000) AS BIGINT) AS ub FROM lineitem), " +
        "nn AS (SELECT count(*) AS n FROM t), " +
        "q(q_ppm) AS (VALUES (250000), (500000), (750000)), " +
        "kk AS (SELECT q_ppm, greatest(1, (q_ppm * n + 999999) // 1000000) AS k FROM q, nn), " +
        "rnka AS (SELECT ua AS v, row_number() OVER (ORDER BY ua) AS rn FROM t), " +
        "rnkb AS (SELECT ub AS v, row_number() OVER (ORDER BY ub) AS rn FROM t), " +
        "th AS (SELECT " +
        "max(CASE WHEN q_ppm = 250000 THEN rnka.v END) AS a1, " +
        "max(CASE WHEN q_ppm = 500000 THEN rnka.v END) AS a2, " +
        "max(CASE WHEN q_ppm = 750000 THEN rnka.v END) AS a3, " +
        "max(CASE WHEN q_ppm = 250000 THEN rnkb.v END) AS b1, " +
        "max(CASE WHEN q_ppm = 500000 THEN rnkb.v END) AS b2, " +
        "max(CASE WHEN q_ppm = 750000 THEN rnkb.v END) AS b3 " +
        "FROM kk JOIN rnka ON rnka.rn = kk.k JOIN rnkb ON rnkb.rn = kk.k), " +
        "r AS (SELECT a, b, " +
        "CASE WHEN ua <= a1 THEN 0 WHEN ua <= a2 THEN 1 " +
        "WHEN ua <= a3 THEN 2 ELSE 3 END AS ra, " +
        "CASE WHEN ub <= b1 THEN 0 WHEN ub <= b2 THEN 1 " +
        "WHEN ub <= b3 THEN 2 ELSE 3 END AS rb FROM t, th) " +
        "SELECT CAST((((ra >> 1) << 3) | ((rb >> 1) << 2) | ((ra & 1) << 1) | (rb & 1)) AS BIGINT) AS bucket, " +
        "count(*) AS n_rows, min(a) AS min_a, max(a) AS max_a, " +
        "min(b) AS min_b, max(b) AS max_b FROM r GROUP BY 1"),

    "layout_hilbert" -> hilbertOracleSql,

    // zone maps: natural files = key ranges over the min/max key span,
    // sorted files = count-of-cuts-below (cuts ≡ the engine's bisect
    // literals via the rank-k form), same candidate predicate
    "layout_zonemap_prune" -> {
      val sumry = (z: String) =>
        s"(SELECT count(*) AS nf, " +
          s"CAST(sum(CASE WHEN mx >= $zoneLoD AND mn < $zoneHiD THEN 1 ELSE 0 END) AS BIGINT) AS nc, " +
          s"CAST(sum(CASE WHEN mx >= $zoneLoD AND mn < $zoneHiD THEN nr ELSE 0 END) AS BIGINT) AS rs, " +
          s"CAST(sum(nr) AS BIGINT) AS rt FROM $z)"
      s"WITH o AS (SELECT epoch_us(o_orderdate) // 86400000000 AS k, o_orderkey FROM orders), " +
        "mm AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM o), " +
        s"nat AS (SELECT (o.o_orderkey - mm.mn) // ((mm.mx - mm.mn) // $zoneFiles + 1) AS f, o.k " +
        "FROM o CROSS JOIN mm), " +
        "nz AS (SELECT f, min(k) AS mn, max(k) AS mx, count(*) AS nr FROM nat GROUP BY f), " +
        "nn AS (SELECT count(*) AS n FROM o), " +
        s"kk AS (SELECT CAST(i.range AS BIGINT) AS i, " +
        s"greatest(1, ((1000000 * i.range // $zoneFiles) * n + 999999) // 1000000) AS kr " +
        s"FROM range(1, $zoneFiles) i CROSS JOIN nn), " +
        "r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM o), " +
        "cts AS (SELECT list(r.k ORDER BY r.k) AS cl FROM kk JOIN r ON r.rn = kk.kr), " +
        "srt AS (SELECT len(list_filter(cts.cl, c -> c < o.k)) AS f, o.k " +
        "FROM o CROSS JOIN cts), " +
        "sz AS (SELECT f, min(k) AS mn, max(k) AS mx, count(*) AS nr FROM srt GROUP BY f) " +
        s"SELECT 'natural' AS layout, CAST(nf AS BIGINT) AS n_files, nc AS n_candidate_files, " +
        "rs AS rows_scanned, rt AS rows_total, " +
        s"CAST(((nf - nc) * 1000000) // nf AS BIGINT) AS prune_ppm FROM ${sumry("nz")} " +
        "UNION ALL " +
        s"SELECT 'sorted', CAST(nf AS BIGINT), nc, rs, rt, " +
        s"CAST(((nf - nc) * 1000000) // nf AS BIGINT) FROM ${sumry("sz")}"
    },

    "corpus_kanon" ->
      s"""WITH t AS (SELECT source, (n_chars >> $kanonShift) AS len_bucket, lang
        |           FROM documents)
        |SELECT source, len_bucket, count(*) AS group_n,
        |  count(DISTINCT lang) AS l_distinct,
        |  CAST((count(*) < $kanonK OR count(DISTINCT lang) < $kanonL) AS BIGINT) AS at_risk
        |FROM t GROUP BY source, len_bucket""".stripMargin,

    // numerator 10⁶·D² ≥ 0 and den > 0, so // truncation equals the
    // engine's floor division here; HUGEINT keeps D² exact
    "corpus_feature_select" ->
      (s"WITH d AS (SELECT doc_id, lang, unnest(list_distinct($sqlToks)) AS token FROM documents), " +
        "ntc AS (SELECT token, lang, count(*) AS n_tc FROM d GROUP BY token, lang), " +
        "nt AS (SELECT token, CAST(sum(n_tc) AS BIGINT) AS n_t FROM ntc GROUP BY token), " +
        "nc AS (SELECT lang, count(*) AS n_c FROM documents GROUP BY lang), " +
        "nn AS (SELECT count(*) AS n FROM documents), " +
        "grid AS (SELECT nt.token, nt.n_t, nc.lang, nc.n_c, coalesce(ntc.n_tc, 0) AS n_tc " +
        "FROM nt CROSS JOIN nc LEFT JOIN ntc ON ntc.token = nt.token AND ntc.lang = nc.lang), " +
        "terms AS (SELECT token, n_t, CASE WHEN n_t < n THEN " +
        "CAST((1000000::HUGEINT * ((n * n_tc) - (n_t * n_c)) * ((n * n_tc) - (n_t * n_c))) // " +
        "(CAST(n_t AS HUGEINT) * (n - n_t) * n_c) AS BIGINT) ELSE 0 END AS term " +
        "FROM grid, nn), " +
        "sc AS (SELECT token, max(n_t) AS n_docs, sum(term) AS score_us FROM terms GROUP BY token) " +
        "SELECT token, n_docs, CAST(score_us AS BIGINT) AS score_us FROM sc " +
        s"ORDER BY score_us DESC, token LIMIT $chi2TopK"),

    // DuckDB // truncates toward zero while the engine floor-divides, so
    // mean_us (the one signed quotient) goes through the pmod floor trick
    "embedding_stats" ->
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
        |FROM a""".stripMargin,

    // the power-iteration rounds unrolled as CTE triples (matvec, max-abs,
    // renormalize) over the scatter-matrix CTE; every division is the
    // shared pmod-floor form on HUGEINT
    "embedding_pca" -> {
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
    },

    // floor-mean per dim via the pmod trick (component sums can be
    // negative), then pure-integer squared deviations
    "embedding_outliers" ->
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
        |ORDER BY dist2_us2 DESC, vec_id LIMIT $outlierTopK""".stripMargin),

    // one summary CTE (the single-scan aggregate), then a row per check;
    // floor-ppm via //; vacuous 1e6 when the base is empty
    "corpus_checks" ->
      s"""WITH s AS (SELECT count(*) AS total,
        |  count(text) AS ok_text, count(lang) AS ok_lang,
        |  count(DISTINCT doc_id) AS d_id,
        |  count(n_chars) AS b_nc,
        |  count(CASE WHEN n_chars BETWEEN $checksRangeLo AND $checksRangeHi THEN 1 END) AS ok_nc,
        |  count(source) AS b_src,
        |  count(CASE WHEN regexp_matches(source, '$checksSourceRe') THEN 1 END) AS ok_src,
        |  count(lang) AS b_set,
        |  count(CASE WHEN lang IN (${checksLangSet.map("'" + _ + "'").mkString(",")}) THEN 1 END) AS ok_set
        |  FROM documents),
        |r AS (
        |  SELECT 'completeness' AS check_name, 'text' AS col_name,
        |    CASE WHEN total > 0 THEN (1000000 * ok_text) // total ELSE 1000000 END AS observed_ppm,
        |    1000000 AS threshold_ppm FROM s
        |  UNION ALL SELECT 'completeness', 'lang',
        |    CASE WHEN total > 0 THEN (1000000 * ok_lang) // total ELSE 1000000 END, 1000000 FROM s
        |  UNION ALL SELECT 'uniqueness', 'doc_id',
        |    CASE WHEN total > 0 THEN (1000000 * d_id) // total ELSE 1000000 END, 1000000 FROM s
        |  UNION ALL SELECT 'in_range', 'n_chars',
        |    CASE WHEN b_nc > 0 THEN (1000000 * ok_nc) // b_nc ELSE 1000000 END, $checksRangeThresh FROM s
        |  UNION ALL SELECT 'matches_regex', 'source',
        |    CASE WHEN b_src > 0 THEN (1000000 * ok_src) // b_src ELSE 1000000 END, 1000000 FROM s
        |  UNION ALL SELECT 'in_set', 'lang',
        |    CASE WHEN b_set > 0 THEN (1000000 * ok_set) // b_set ELSE 1000000 END, $checksLangThresh FROM s)
        |SELECT check_name, col_name, CAST(observed_ppm AS BIGINT) AS observed_ppm,
        |  CAST(threshold_ppm AS BIGINT) AS threshold_ppm,
        |  CAST(observed_ppm >= threshold_ppm AS BIGINT) AS passed
        |FROM r""".stripMargin,

    "text_rrf_fusion" -> rrfFusionOracleSql,

    "events_pivot" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin,

    "a9_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
        |       AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "events_anomaly" ->
      """WITH c AS (SELECT event_type AS series,
        |             epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
        |             count(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |wf AS (SELECT series, bucket_us, n_events,
        |         count(n_events) OVER tw AS base_n,
        |         sum(n_events) OVER tw AS base_sum,
        |         sum(CAST(n_events AS HUGEINT) * n_events) OVER tw AS base_sumsq
        |       FROM c WINDOW tw AS (PARTITION BY series ORDER BY bucket_us
        |         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT series, bucket_us, n_events,
        |  CAST(COALESCE(base_n, 0) AS BIGINT) AS base_n,
        |  CAST(COALESCE(base_sum, 0) AS BIGINT) AS base_sum,
        |  CAST((base_n >= 12 AND CAST(base_n AS HUGEINT) * n_events > base_sum
        |    AND (CAST(base_n AS HUGEINT) * n_events - base_sum)
        |      * (CAST(base_n AS HUGEINT) * n_events - base_sum)
        |      > 9 * (CAST(base_n AS HUGEINT) * base_sumsq
        |             - CAST(base_sum AS HUGEINT) * base_sum)) AS BIGINT)
        |    AS is_spike
        |FROM wf""".stripMargin,

    "events_resample" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |              CAST(value AS DECIMAL(18,6)) AS v FROM events),
        |hourly AS (SELECT user_id, ts_us - ts_us % 3600000000 AS hour_us,
        |             count(*) AS n, sum(v) AS s FROM ev GROUP BY 1, 2),
        |sp AS (SELECT user_id,
        |         unnest(generate_series(min(hour_us), max(hour_us),
        |                                3600000000)) AS hour_us
        |       FROM hourly GROUP BY user_id),
        |j AS (SELECT sp.user_id, sp.hour_us, hourly.n, hourly.s FROM sp
        |      LEFT JOIN hourly ON hourly.user_id = sp.user_id
        |        AND hourly.hour_us = sp.hour_us),
        |f AS (SELECT user_id, hour_us, n, s,
        |        last_value(s IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY hour_us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs,
        |        last_value(n IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY hour_us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fn
        |      FROM j)
        |SELECT user_id, hour_us, CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
        |  CAST(COALESCE(s, 0) AS DOUBLE) AS sum_value,
        |  CAST(fs AS DOUBLE) / fn AS ffill_avg
        |FROM f""".stripMargin,

    "events_stream_dedup" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |  value, props
        |FROM events""".stripMargin,

    "events_stream_enrich" ->
      """SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id,
        |  e.event_type, e.value, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,

    "events_stream_attrib" ->
      """SELECT c.event_id AS from_id, p.event_id AS to_id, c.user_id,
        |  epoch_us(c.ts) AS from_us, epoch_us(p.ts) AS to_us
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 120 MINUTE""".stripMargin,

    // streaming/batch consistency: the drained stream's final emissions
    // must equal the batch aggregation (exact decimal sum; HLL excluded)
    "events_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin,

    "events_stream_sessions" ->
      ("WITH g AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns " +
        "FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events)), " +
        "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS session_seq FROM g) " +
        "SELECT CAST(user_id AS BIGINT) AS user_id, " +
        "CAST(max(session_seq) AS BIGINT) AS n_sessions, " +
        "count(*) AS n_events FROM s GROUP BY user_id"),

    "events_sessionize" ->
      ("WITH e AS (SELECT user_id, ts, CAST(value AS DECIMAL(18,6)) AS value FROM events), " +
        "g AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns " +
        "FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e)), " +
        "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts) " +
        "AS session_seq FROM g) " +
        "SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, " +
        "min(ts) AS session_start, max(ts) AS session_end, " +
        "count(*) AS n_events, CAST(sum(value) AS DOUBLE) AS sum_value " +
        "FROM s GROUP BY user_id, session_seq"))
}
