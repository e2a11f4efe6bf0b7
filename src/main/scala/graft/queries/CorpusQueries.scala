package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._
import graft.sources.Warc
import Shared._

/** Corpus curation: `corpus_` selection, mixing, splits and reports,
  * preference data (`pref_`), privacy (`privacy_`), `warc_` and `drift_`. */
object CorpusQueries {

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
  private val negAnchorMax = 8L                   // corpus_negatives
  private val kanonK = 5L                         // corpus_kanon
  private val kanonL = 2L
  private val kanonShift = 8
  private val bootReplicas = 32                   // corpus_bootstrap_ci
  private val currQsPpm = Seq(250000L, 500000L, 750000L) // corpus_curriculum
  private val packCapacity = 512L                 // corpus_pack_windows
  private val chi2TopK = 40                       // corpus_feature_select
  private val blocklistTerms =                    // corpus_blocklist
    Seq("spark", "vector", "slow")
  private val deleteListMod = 41L                 // privacy_delete_impact
  private val epochsBudgetTokens = 100000L        // corpus_epochs
  private val epochsShares = Seq("en" -> 50, "zh" -> 20) // ordered for SQL
  private val epochsDefaultShare = 10
  private val waterfillBudgetTokens = 20000L      // corpus_waterfill
  private val pseudoSalt = "graft-export-1"       // privacy_pseudonymize
  private val checksRangeLo = 1L                  // corpus_checks
  private val checksRangeHi = 400L
  private val checksRangeThresh = 500000L
  private val checksLangSet = Seq("en", "es", "de", "fr")
  private val checksLangThresh = 900000L
  private val checksSourceRe = "^src[0-9]+$"
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

  val all: Seq[QuerySpec] = Seq(
    // k-anonymity + l-diversity report over released corpus metadata: do
    // (source, length-bucket) groups stay ≥5-strong, and does each still
    // hide the language attribute behind ≥2 values?
    QuerySpec("corpus_kanon", (s, dir) =>
      Privacy.kAnonymityReport(
        t(s, dir, "documents")
          .withColumn("len_bucket", shiftright(col("n_chars"), kanonShift)),
        Seq("source", "len_bucket"), "lang", k = kanonK, l = kanonL),
      s"""WITH t AS (SELECT source, (n_chars >> $kanonShift) AS len_bucket, lang
        |           FROM documents)
        |SELECT source, len_bucket, count(*) AS group_n,
        |  count(DISTINCT lang) AS l_distinct,
        |  CAST((count(*) < $kanonK OR count(DISTINCT lang) < $kanonL) AS BIGINT) AS at_risk
        |FROM t GROUP BY source, len_bucket""".stripMargin),

    // χ² feature selection of tokens vs the language label — pure
    // integer contingency arithmetic (no logs), absent-class cells
    // included; vocab×classes grid, corpus scanned once, top-k merge
    QuerySpec("corpus_feature_select", (s, dir) =>
      Vocab.chi2TopK(t(s, dir, "documents"), "doc_id", "text", "lang",
        topK = chi2TopK),
      // numerator 10⁶·D² ≥ 0 and den > 0, so // truncation equals the
      // engine's floor division here; HUGEINT keeps D² exact
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
        s"ORDER BY score_us DESC, token LIMIT $chi2TopK")),

    // data-wall forecast: epochs of each stratum available at the target
    // mixture before the sampler must repeat data
    QuerySpec("corpus_epochs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      Sampling.epochsReport(docs, col("lang"), col("n_tok"),
        budgetTokens = epochsBudgetTokens,
        sharePctByStratum = epochsShares.toMap,
        defaultSharePct = epochsDefaultShare)
    },
      // integer epochs forecast; share CASE mirrors the Scala map
      {
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
    }),

    // declarative data-quality constraint suite (the Deequ shape): six
    // named checks verified in ONE scan / one hash aggregate, fanned out
    // to a row per check AFTER aggregation; integer floor-ppm throughout.
    // Thresholds chosen so the report exercises both verdicts (the range
    // and language-set checks fail on this corpus by design).
    QuerySpec("corpus_checks", (s, dir) =>
      Checks.run(t(s, dir, "documents"), Seq(
        Checks.Completeness("text", 1000000L),
        Checks.Completeness("lang", 1000000L),
        Checks.Uniqueness("doc_id", 1000000L),
        Checks.InRange("n_chars", checksRangeLo, checksRangeHi,
          checksRangeThresh),
        Checks.MatchesRegex("source", checksSourceRe, 1000000L),
        Checks.InSet("lang", checksLangSet, checksLangThresh))),
      // one summary CTE (the single-scan aggregate), then a row per check;
      // floor-ppm via //; vacuous 1e6 when the base is empty
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
        |FROM r""".stripMargin),

    // the span-level FIX: remove cross-document repeated 5-token spans,
    // keep the unique remainder (vs dropping whole docs)
    QuerySpec("corpus_strip_spans", (s, dir) =>
      Dedup.stripSharedSpans(tFan(s, dir, "documents"), "doc_id", "text",
        n = 5, hasher = Dedup.Md5Hasher),
      // positioned windows → shared-window doc-frequency set → covered
      // position sets (range(p, p+5), end-exclusive ≡ the engine's
      // sequence(p, p+4)) → positional token filter, rejoined on ' '
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
        "FROM t LEFT JOIN cov USING (doc_id)")),

    // the canonical training-data cleaning pipeline, composed from the ops
    // above: quality gate → language gate → exact dedup → kept corpus
    // the cleaning-pipeline FUNNEL: cumulative survivors at each gate
    // (total → nonempty → length → quality → language → exact-canonical)
    // — the one dashboard a corpus refresh is judged by; stages 1-5 ride
    // ONE conditional-count aggregate, stage 6 adds the dedup group min
    QuerySpec("corpus_funnel_report", (s, dir) => {
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
    },
      // the shared langid body supplies toks + prediction; stages are
      // conditional counts, the canonical stage groups the gated survivors
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
        "UNION ALL SELECT 6, 'exact_canonical', s6 FROM s6")),

    QuerySpec("corpus_clean", (s, dir) => {
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
    },
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
        "SELECT f.doc_id, f.lang_guess, f.n_tokens FROM f JOIN k ON f.doc_id = k.doc_id")),

    // max-min-fair token budget: uniform cap L, alloc = min(mass, L) —
    // the "clip the head, never starve the tail" mixture policy
    QuerySpec("corpus_waterfill", (s, dir) =>
      Sampling.waterfillBudget(t(s, dir, "documents"), "source", "text",
        waterfillBudgetTokens).orderBy(col("source")),
      // same closed-form waterfill: sort by mass asc, largest affordable
      // freeze point (P_k + (n-k)·c_k ≤ B), level = (B − P_k) // (n − k)
      // (all operands non-negative there, so `//` ≡ floor)
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
        "FROM r, lv ORDER BY source")),

    // greedy maximum-coverage selection: the 5 docs that together cover
    // the most distinct 3-gram shingles — exact greedy (1-1/e bound),
    // one posting build + 5 anti-join/count/argmax rounds
    QuerySpec("corpus_maxcover_select", (s, dir) => {
      val docs = docsShingled(s, dir)
      Sampling.maxCoverSelect(docs, "doc_id", "sh", k = 5)
    },
      // unrolled 5-step greedy max-coverage: each step is an argmax of
      // uncovered-shingle counts (count DESC, doc_id — the engine's total
      // order) and the covered set accumulates the winner's shingles
      sqlMaxcoverGreedy(5)),

    // GreeDi two-phase distributed greedy (Mirzasoleiman NeurIPS'13):
    // 4 md5-bucket greedies run SIMULTANEOUSLY (each round = one
    // (bucket,doc) aggregate + one per-bucket argmax for all buckets at
    // once), then the exact greedy over the <= 12 phase-1 winners — the
    // scale answer to maxcover's inherently sequential k full scans
    QuerySpec("corpus_maxcover_greedi", (s, dir) => {
      val docs = docsShingled(s, dir)
      Sampling.maxCoverSelectGreedi(docs, "doc_id", "sh", k = 3, parts = 4)
    },
      // GreeDi unrolled: 3 per-bucket rounds (row_number argmax PER BUCKET,
      // covered sets keyed by bucket) -> candidate union -> the standard
      // 3-step global greedy restricted to the candidates
      {
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
    }),

    // CELF lazy-forward greedy (Leskovec KDD'07): output-identical to
    // corpus_maxcover_select — the bounded lazy queue re-probes a
    // handful of stale bounds per pick instead of re-aggregating the
    // corpus; the SHARED oracle text is the exactness proof cross-engine
    QuerySpec("corpus_maxcover_celf", (s, dir) => {
      val docs = docsShingled(s, dir)
      Sampling.maxCoverSelectCelf(docs, "doc_id", "sh", k = 5)
    },
      // IDENTICAL oracle text to corpus_maxcover_select: CELF's lazy queue
      // is an exactness-preserving relaxation, so the cross-engine hash
      // equality IS the "CELF ≡ exact greedy" guarantee at the gated k
      sqlMaxcoverGreedy(5)),

    // stochastic-greedy (Mirzasoleiman AAAI'15): per-round salted-md5
    // half-corpus samples — the (1−1/e−ε) relaxation whose rounds cost
    // sample-sized aggregates; sampling is hash-deterministic so the
    // oracle replays it exactly
    QuerySpec("corpus_maxcover_stochastic", (s, dir) => {
      val docs = docsShingled(s, dir)
      Sampling.maxCoverSelectStochastic(docs, "doc_id", "sh", k = 4,
        samplePct = 50)
    },
      // stochastic-greedy: each round's argmax runs over the salted-md5
      // per-round sample (the engine's exact sampling rule), chosen docs
      // excluded, empty winner rounds pass covered through unchanged
      {
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
    }),

    // POPULATION STABILITY INDEX between corpus snapshots — the standard
    // production drift metric: doc-length distributions (log2 buckets,
    // the shared len(bin()) convention) of the old/new md5 snapshots,
    // Laplace-smoothed shares, per-bucket (p−q)·ln(p/q) terms in µ8
    // units (terms are non-negative; per-term flooring makes any
    // downstream total an order-free integer sum). ln rides the
    // cross-engine-libm precedent; shares are single IEEE divisions
    QuerySpec("corpus_psi_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      Profile.psiTerms(docs.select(
        length(bin(TextFunctions.tokenCount(col("text")).cast("long")))
          .as("bucket"),
        (Sampling.stableBucket(col("doc_id")) < 80).as("_old")),
        "bucket", "_old")
    },
      // PSI: same log2 buckets, Laplace smoothing and IEEE share divisions;
      // ln is the shared libm, terms floored to µ8 before any summation
      (s"WITH t AS (SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 AS old, " +
        s"len(bin(len($sqlToks)::BIGINT)) AS bucket FROM documents), " +
        "c AS (SELECT bucket, count(CASE WHEN old THEN 1 END) AS n_old, " +
        "count(CASE WHEN NOT old THEN 1 END) AS n_new FROM t GROUP BY 1), " +
        "tt AS (SELECT sum(n_old) AS toc, sum(n_new) AS tnc, count(*) AS nb FROM c) " +
        "SELECT bucket, n_old, n_new, " +
        "CAST(floor(((n_old + 1)::DOUBLE / (toc + nb)::DOUBLE - (n_new + 1)::DOUBLE / (tnc + nb)::DOUBLE) * " +
        "ln(((n_old + 1)::DOUBLE / (toc + nb)::DOUBLE) / ((n_new + 1)::DOUBLE / (tnc + nb)::DOUBLE)) * 100000000) AS BIGINT) AS psi_term_u8 " +
        "FROM c, tt")),

    // the DATA CARD: the per-source release artifact every corpus ships —
    // size, exact-dup rate, Gopher-gate keep rate, dominant language —
    // composed from the already-oracle-proven signals (contentFingerprint
    // groups, qualityRuleScreen, langId) in one plan: four hash
    // aggregates over scans + one small argmax, everything ppm-exact
    QuerySpec("corpus_datacard", (s, dir) => {
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
    },
      // data card: langIdBodySql's predictor + the rule-screen predicates
      // (same interpolated constants) + md5 group sizes, composed per source
      datacardOracleSql),

    // INCREMENTAL datacard — the capstone of the incremental family
    // (groups delta + HLL delta + CorpusDelta): the release artifact
    // assembled from two per-snapshot mergeable states (md5 80/20 split,
    // the shared convention) must equal the full-scan artifact — which
    // is exactly what its oracle computes. Every state column is a sum
    // of per-doc functions, so merge ≡ rebuild by associativity; dup
    // groups split ACROSS snapshots only surface at merge, the case a
    // naive per-snapshot datacard gets wrong
    QuerySpec("corpus_datacard_delta", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = Sampling.stableBucket(col("doc_id"))
      CorpusDelta.datacardFromState(CorpusDelta.mergeDatacardState(
        CorpusDelta.datacardState(docs.filter(bucket < 80), "text", "source"),
        CorpusDelta.datacardState(docs.filter(bucket >= 80), "text", "source")))
    },
      // the incremental capstone: artifact(A∪B) from merged per-snapshot
      // states must equal the full-scan artifact — the oracle IS the
      // one-shot datacard SQL over the whole table
      datacardOracleSql),

    // the takedown path of the datacard state: state(all) ⊖
    // state(deleted) assembled into the release artifact must equal the
    // datacard computed on the survivors — every state column is a sum
    // of per-doc functions, so the subtraction is exact and zero-count
    // rows vanish like a rebuild's
    QuerySpec("corpus_datacard_delete", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = Sampling.stableBucket(col("doc_id"))
      CorpusDelta.datacardFromState(CorpusDelta.deleteDatacardState(
        CorpusDelta.datacardState(docs, "text", "source"),
        CorpusDelta.datacardState(docs.filter(bucket >= 80), "text",
          "source")))
    },
      // the SAME datacard oracle computed over the survivors only (CTE
      // shadowing main.documents) — rebuild-without-docs, verbatim
      datacardOracleSql.replaceFirst("^WITH ",
      "WITH documents AS (SELECT * FROM main.documents " +
        "WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80), ")),

    // the trainer's last-mile artifact: deterministic shard manifest —
    // shard = md5(doc_id) % 16 (stable across runs and engines, no
    // global sort, no driver state), per-shard doc/token totals and the
    // signed ppm deviation of each shard's token share from the ideal
    // 1/S (the balance check before shipping shards to data loaders);
    // totals ride one broadcast 1-row frame, all integer arithmetic
    QuerySpec("corpus_shard_manifest", (s, dir) => {
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
    },
      // same md5-mod-16 shards, same integer share deviation
      (s"WITH d AS (SELECT ${sqlMd5Long("doc_id::VARCHAR")} % 16 AS shard, " +
        s"len($sqlToks)::BIGINT AS tk FROM documents), " +
        "ps AS (SELECT shard, count(*) AS n_docs, CAST(sum(tk) AS BIGINT) AS n_tokens FROM d GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS tot FROM ps) " +
        "SELECT shard, n_docs, n_tokens, " +
        "CAST((n_tokens::HUGEINT * 16 * 1000000) // tot - 1000000 AS BIGINT) AS dev_ppm " +
        "FROM ps, tt")),

    // release-integrity artifact: per-source Merkle root over the 16
    // md5-mod shards (leaf = doc digest, shard digest = md5 of the
    // sorted leaf digests, then 4 pairing rounds on shard index). A
    // changed shard re-proves with O(log n) path hashes instead of a
    // corpus rescan — the verification twin of corpus_shard_manifest
    QuerySpec("corpus_merkle_root", (s, dir) =>
      Merkle.roots(t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy("source"),
      (sqlMerkleCtes.stripSuffix(", ") +
        " SELECT source, n AS n_docs, h AS merkle_root FROM l4 ORDER BY source")),

    // the proof op the root exists FOR: per (source, shard) the shard
    // digest + its 4 sibling hashes + verification that folding them
    // reproduces the root — a changed shard re-proves in O(log n) path
    // hashes instead of a corpus rescan (Merkle.proofs; the tamper twin —
    // flip one doc, verification against the published root fails — is
    // pinned in MerkleSpec)
    QuerySpec("corpus_merkle_proof", (s, dir) =>
      Merkle.proofs( // fan A/B: 0.61x fanned
          Merkle.shardLeaves(t(s, dir, "documents"), "doc_id", "text",
            "source"), "source")
        .orderBy("source", "shard"),
      merkleProofOracleSql),

    // TAKEDOWN through the release-integrity artifact: delete one whole
    // source (src0) plus 20% of another (src9, bucket >= 80), then
    // verify the survivors' proofs against the ORIGINAL published roots
    // (full-outer: the wholly-deleted source surfaces as an orphaned
    // ok=0 root row instead of vanishing) and against the re-rooted
    // remaining corpus (all ok). Per-source verdict counts; the oracle
    // replays both Merkle chains
    QuerySpec("corpus_merkle_delete", (s, dir) => {
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
    },
      merkleDeleteOracleSql),

    // what dedup actually KEEPS: per near-dup group the member with the
    // most content (ties to smallest id) — argmax as one max(struct),
    // no window over the corpus
    QuerySpec("corpus_canonical", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.canonicalPerGroup(docs, "doc_id",
        Dedup.componentsFromPairs(
          Dedup.ngramJaccardPairs(docsShingled(s, dir), "doc_id", "sh",
            0.5, maxPosting = 500),
          iters = 10),
        "n_chars")
    },
      // same CC prefix; argmax = max size then min id among the maxima
      (s"$ccCompPrefixSql, " +
        "j AS (SELECT c.comp AS group_id, d.doc_id, d.n_chars FROM comp c " +
        "JOIN documents d ON d.doc_id = c.id), " +
        "g AS (SELECT group_id, count(*) AS group_size, " +
        "max(n_chars) AS keep_size FROM j GROUP BY 1) " +
        "SELECT g.group_id, g.group_size, g.keep_size, " +
        "min(j.doc_id) AS keep_id FROM g JOIN j " +
        "ON j.group_id = g.group_id AND j.n_chars = g.keep_size " +
        "GROUP BY 1, 2, 3")),

    // split-balance QA: per length bucket, each split's own-total share
    // (floor-ppm) + max pairwise gap — catches split keys that correlate
    // with doc length
    QuerySpec("corpus_split_balance", (s, dir) =>
      Sampling.splitBalance(t(s, dir, "documents"), col("doc_id"),
        col("n_chars")),
      // same md5 split buckets as corpus_split; shares against each
      // split's OWN total
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
        "abs(val_ppm - test_ppm)) AS max_gap_ppm FROM sh")),

    // leakage-safe split: assignment by DEDUP GROUP, not by doc — a test
    // doc whose near-twin sits in train is contamination a per-doc split
    // cannot see; singletons hash by their own id
    QuerySpec("corpus_leak_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      val comps = Dedup.componentsFromPairs(
        Dedup.ngramJaccardPairs(docsShingled(s, dir), "doc_id", "sh", 0.5,
          maxPosting = 500),
        iters = 10)
      Sampling.groupSplit(docs, col("doc_id"), comps)
    },
      // same recursive-CC prefix as dedup_groups, then group-keyed buckets
      (s"$ccCompPrefixSql, " +
        "g AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS group_id " +
        "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id), " +
        "bk AS (SELECT doc_id, group_id, " +
        "('0x' || substring(md5(CAST(group_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket FROM g) " +
        "SELECT doc_id, group_id, bucket, " +
        "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM bk")),

    // Efraimidis–Spirakis weighted sample without replacement: stable-hash
    // u, key = ln(u)/w, top-k — the sample itself is oracle-checkable
    QuerySpec("corpus_weighted_sample", (s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
        col("n_chars"), k = 50),
      // A-Res keys recomputed exactly: same 48-bit md5 u, same ln/w key
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS weight FROM documents
        |WHERE n_chars > 0
        |ORDER BY ln((('0x' || substring(md5(doc_id::VARCHAR), 1, 12))::BIGINT + 0.5)
        |  / 281474976710656.0) / n_chars DESC, doc_id
        |LIMIT 50""".stripMargin),

    // language-ID confusion matrix vs the stored labels — the evaluation
    // every heuristic gate needs before it filters anything
    QuerySpec("corpus_lang_confusion", (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang").as("true_lang"),
          TextFunctions.langId(col("text")).as("pred_lang"))
        .groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n")),
      // same shared predictor body joined back to the stored labels
      (s"WITH $langIdBodySql " +
        "SELECT d.lang AS true_lang, lg.lang_guess AS pred_lang, " +
        "count(*) AS n FROM documents d JOIN lg ON d.doc_id = lg.doc_id " +
        "GROUP BY 1, 2")),

    // cross-split SEMANTIC leak audit: embedding near-dup pairs whose
    // endpoints land in different train/val/test splits — the
    // contamination the n-gram gate can't see (paraphrases). Pair frame
    // from the RHP-LSH SCALE path (bucket equi-join — the all-pairs
    // exact path is quadratic in the corpus; same plane constants as
    // dedup_embedding_lsh, oracle-mirrored); split labels are the
    // deterministic md5 bucket, so the whole audit is engine-exact.
    // (corpus_leak_split is the FIX — group-aware assignment; this is
    // the MEASURE of what a naive id-hash split would leak.)
    QuerySpec("corpus_semantic_leak", (s, dir) => {
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
    },
      // same RHP bucket join + pair CTE as dedup_embedding_lsh, then the
      // corpus_split md5 bucket per endpoint, normalized to an unordered
      // split pair
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
        "FROM sp GROUP BY 1, 2, 4")),

    // corpus-level one-pass summary (exact form; approx=true is the
    // 100 TB default with HLL distincts)
    QuerySpec("corpus_stats", (s, dir) =>
      Sampling.corpusStats(t(s, dir, "documents"), "doc_id", "text"),
      (s"WITH t AS (SELECT doc_id, toks, md5(array_to_string(toks, ' ')) AS fp " +
        s"FROM (SELECT doc_id, $sqlToks AS toks FROM documents)), " +
        "e AS (SELECT doc_id, fp, unnest(CASE WHEN len(toks) = 0 " +
        "THEN [NULL] ELSE toks END) AS tok FROM t) " +
        "SELECT count(DISTINCT doc_id) AS n_docs, count(tok) AS n_tokens, " +
        "count(DISTINCT tok) AS vocab_size, " +
        "count(DISTINCT doc_id) - count(DISTINCT fp) AS n_exact_dups FROM e")),

    // ---- similarity search ----------------------------------------------
    // right-to-be-forgotten sizing: rows referencing a subject delete
    // list, per table — one broadcast left join + conditional count each
    QuerySpec("privacy_delete_impact", (s, dir) => {
      val victims = events(s, dir)
        .filter(pmod(col("user_id"), lit(deleteListMod)) === 0)
        .select(col("user_id"))
      Privacy.deleteImpact(Seq(
        ("events", events(s, dir), "user_id"),
        ("orders", t(s, dir, "orders"), "o_custkey"),
        ("customer", t(s, dir, "customer"), "c_custkey")),
        victims, "user_id")
    },
      {
      def arm(name: String, tbl: String, key: String) =
        s"SELECT '$name' AS table_name, count(*) AS n_rows, " +
          "count(CASE WHEN v.vv IS NOT NULL THEN 1 END) AS n_affected, " +
          "CASE WHEN count(*) > 0 THEN (count(CASE WHEN v.vv IS NOT NULL THEN 1 END) * 1000000) // count(*) " +
          s"ELSE 0 END AS affected_ppm FROM $tbl x LEFT JOIN v ON x.$key = v.vv"
      s"WITH v AS (SELECT DISTINCT user_id AS vv FROM events WHERE user_id % $deleteListMod = 0) " +
        Seq(arm("events", "events", "user_id"),
          arm("orders", "orders", "o_custkey"),
          arm("customer", "customer", "c_custkey")).mkString(" UNION ALL ")
    }),

    // ε-DP released counts (discrete Laplace / two-sided geometric,
    // Ghosh et al. 2009): noise drawn deterministically by inverse-CDF
    // lookup of a stable 48-bit hash against driver-computed integer
    // thresholds — no float noise at release time, both engines replay
    // the identical draw; true counts never leave the query
    QuerySpec("privacy_dp_counts", (s, dir) =>
      Privacy.dpNoisyCounts(events(s, dir), Seq("event_type"), dpSalt,
        dpEpsPpm),
      // the SAME driver-computed threshold table interpolates into both
      // sides (Privacy.dpNoiseTable — no drift possible); the hash key is
      // event_type || salt exactly as the engine concatenates it
      {
      val table = Privacy.dpNoiseTable(dpEpsPpm)
      val cases = table.init
        .map { case (t, j) => s"WHEN u48 < $t THEN $j" }.mkString(" ")
      s"WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1), " +
        s"u AS (SELECT event_type, n, ('0x' || substring(md5(event_type || chr(1) || '$dpSalt'), 1, 12))::BIGINT AS u48 FROM c) " +
        s"SELECT event_type, CAST(greatest(n + CASE $cases ELSE ${table.last._2} END, 0) AS BIGINT) AS noisy_count FROM u"
    }),

    // DP release over a PUBLIC fixed domain (the mode the contract
    // demands when the key set itself is sensitive): negative-balance
    // customers per nation, domain = the full 25-nation dimension —
    // nations with no such customer still emit a row with a noised ZERO,
    // so the released key set is data-independent
    QuerySpec("privacy_dp_counts_domain", (s, dir) => {
      val neg = t(s, dir, "customer").filter(col("c_acctbal") < 0)
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"))
      Privacy.dpNoisyCounts(neg, Seq("n_name"), dpSalt, dpEpsPpm,
        Some(t(s, dir, "nation").select(col("n_name"))))
    },
      // domain mode: LEFT JOIN from the public nation dimension so absent
      // keys carry a noised zero — the identical threshold-table CASE
      {
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
    }),

    // GDPR-pseudonymized export: user ids become stable salted md5
    // tokens (pure codegen projection), grouping survives tokenization
    QuerySpec("privacy_pseudonymize", (s, dir) =>
      Privacy.pseudonymize(events(s, dir)
          .select(col("user_id"), col("event_type")),
        Seq("user_id"), pseudoSalt)
        .groupBy(col("user_id").as("pseudonym"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("event_type")).as("n_types")),
      (s"WITH p AS (SELECT substring(md5('$pseudoSalt' || chr(1) || " +
        "CAST(user_id AS VARCHAR)), 1, 15) AS pseudonym, event_type " +
        "FROM events) " +
        "SELECT pseudonym, count(*) AS n_events, " +
        "count(DISTINCT event_type) AS n_types FROM p GROUP BY 1")),

    // margin-based parallel-pair mining (bitext / paraphrase alignment):
    // even vec_ids query the odd-id side corpus-wide through the shared
    // RHP buckets; a pair survives only when the best match leads the
    // runner-up by >= 20000 µ cosine — the absolute-margin criterion.
    // Both sides are corpus-sized: bucket equi-join (shuffle, bounded
    // candidates), salted top-2, exact µ-floored margins
    QuerySpec("corpus_bitext_mine", (s, dir) => {
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
    },
      bitextMineOracleSql),

    // train/test n-gram contamination (decontamination gate): fraction of
    // each non-train doc's distinct 5-gram shingles that appear in ANY
    // train doc, under the same deterministic split as corpus_split
    QuerySpec("corpus_contamination", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), // fan A/B: 0.66x fanned
        Sampling.splitLabel(col("doc_id")).as("split"),
        TextFunctions.wordShingles(col("text"), 5).as("sh"))
      Sampling.contaminationReport(docs, "doc_id", "sh", "split")
    },
      // same deterministic split as corpus_split; distinct 5-gram shingles;
      // inner join vs the DISTINCT train shingle set ≡ the engine's semi join
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
        "FROM te LEFT JOIN hit USING (doc_id)")),

    // data-mixture sampler: per-language keep rates (en 80% / de 50% /
    // others 20%), membership a pure function of (doc_id, stratum rate) —
    // one scan-stage predicate, no shuffle, no strata counting
    QuerySpec("corpus_stratified", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang"))
      Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
        Map("en" -> 80, "de" -> 50), defaultPct = 20)
    },
      // stratified by detected language at per-stratum rates (en 80 / de 50
      // / default 20): the data-mixture sampler over the langid stratum
      (s"WITH l AS ($langIdOracleSql) " +
        "SELECT doc_id, lang_guess AS lang FROM l " +
        "WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < " +
        "CASE lang_guess WHEN 'en' THEN 80 WHEN 'de' THEN 50 ELSE 20 END")),

    // deterministic sampling/splitting: membership is a pure function of
    // the doc id (stable across runs/engines/corpus growth)
    QuerySpec("corpus_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.stableSample(docs, col("doc_id"), pct = 50)
        .select(col("doc_id"),
          Sampling.stableBucket(col("doc_id")).as("bucket"),
          Sampling.splitLabel(col("doc_id")).as("split"))
    },
      """SELECT doc_id, b AS bucket,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        |  FROM documents)
        |WHERE b < 50""".stripMargin),

    // deterministic sequence packing into 512-token bins; shard count is
    // SIZED TO TOKEN VOLUME (8192 tokens/shard here; see SCALE.md for the
    // 100 TB rule) so per-reducer work stays constant as the corpus grows —
    // the oracle recomputes the same count from the same volume
    QuerySpec("corpus_pack", (s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val shards = Sampling.shardsForVolume(toks, "n_tokens",
        tokensPerShard = 8192)
      Sampling.packBins(toks, "doc_id", "n_tokens",
        Sampling.stableBucket(col("doc_id"), shards), target = 512)
    },
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
        "FROM c")),

    // train/test length-distribution drift: the EXACT two-sample KS
    // statistic — cumulative counts over the per-value HISTOGRAM (the
    // window input is |distinct lengths|, not the corpus), gap kept as
    // exact integer cross-products, the final ratio one fixed IEEE
    // division over exact decimal sums (the CUPED discipline)
    QuerySpec("corpus_split_drift", (s, dir) => {
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
    },
      // exact two-sample KS over the length histogram: integer cumulative
      // cross-products, one final IEEE division, min-value tie-break
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
        "CAST(at_v AS BIGINT) AS ks_at_chars FROM tot, m")),

    // preference-data curation (RLHF/DPO ranking step): within-order
    // quantity comparisons at brand grain → Bradley-Terry strengths via
    // 3 exact integer MM iterations (Preference.btScores µ-ladder; the
    // oracle unrolls the identical fixed point). Comparisons collapse to
    // the symmetric pair frame in one shuffle; iterations are broadcast
    // joins over items only — never a rescan of the comparison log
    QuerySpec("pref_bt_scores", (s, dir) => {
      Preference.btScores(prefComparisons(s, dir), "w", "l", iters = 3)
        .orderBy(col("score_mu").desc, col("item"))
    },
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
        "FROM items it JOIN s3 ON it.item = s3.item ORDER BY score_mu DESC, it.item")),

    // the head-to-head evidence behind the BT fit: symmetric pair frame
    // with integer-ppm win rates — the matrix a preference-data audit
    // reads before trusting the fitted ranking
    QuerySpec("pref_pair_matrix", (s, dir) => {
      Preference.pairFrame(prefComparisons(s, dir), "w", "l")
        .select(col("i"), col("j"), col("nij"), col("wij"),
          expr("(wij * 1000000L) div nij").as("winrate_ppm"))
        .orderBy("i", "j")
    },
      (sqlPrefSym.stripSuffix(", ") +
        " SELECT i, j, nij, wij, (wij * 1000000) // nij AS winrate_ppm " +
        "FROM sym ORDER BY i, j")),

    // DPO/RLHF training-pair construction from the comparison log: keep
    // (chosen, rejected) where the win rate clears 54% over >= 20 games —
    // the evidence gates are division-free integer comparisons, the
    // margin is the exact floored ppm excess over a coin flip
    QuerySpec("pref_dpo_pairs", (s, dir) => {
      Preference.pairFrame(prefComparisons(s, dir), "w", "l")
        .filter(col("nij") >= 20 &&
          expr("wij * 1000000L >= 540000L * nij"))
        .select(col("i").as("chosen"), col("j").as("rejected"),
          col("nij"), col("wij"),
          expr("(wij * 2000000L - nij * 1000000L) div nij").as("margin_ppm"))
        .orderBy("chosen", "rejected")
    },
      (sqlPrefSym.stripSuffix(", ") +
        " SELECT i AS chosen, j AS rejected, nij, wij, " +
        "(wij * 2000000 - nij * 1000000) // nij AS margin_ppm " +
        "FROM sym WHERE nij >= 20 AND wij * 1000000 >= 540000 * nij " +
        "ORDER BY chosen, rejected")),

    // the pairs a DPO trainer ACTUALLY consumes: chosen and rejected are
    // responses to the SAME prompt (order) — per-prompt win rates, top
    // vs bottom item, division-free strict gate (Preference.promptPairs;
    // pref_dpo_pairs above is the global-evidence screen, this is the
    // per-prompt construction the round-11 verdict asked for)
    QuerySpec("pref_dpo_prompt_pairs", (s, dir) => {
      Preference.promptPairs(promptComparisons(s, dir), "prompt", "w", "l")
        .orderBy("prompt")
    },
      // per-prompt twin: prompt kept through the comparison derivation,
      // same window tie-breaks and division-free strict gate as the engine
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
        "WHERE b.cw * w2.rjg > w2.rjw * b.cg ORDER BY b.prompt")),

    // annotation-reliability gate BEFORE any BT fit is trusted:
    // Krippendorff's alpha (nominal) over the comparison log — units are
    // unordered item pairs, categories {low item wins, high item wins};
    // per-unit disagreement terms floored to µ8 (order-free integer sum,
    // the PSI convention), final alpha assembled in DECIMAL(38,0)
    QuerySpec("pref_krippendorff_alpha", (s, dir) =>
      Preference.krippendorffAlpha(prefComparisons(s, dir), "w", "l"),
      // Krippendorff alpha: units from the raw comparison stream `c` (NOT
      // the symmetric pair frame — alpha needs per-rating counts), per-unit
      // µ8 terms over HUGEINT (the engine's DECIMAL(38,0) twin), one-row
      // assembly with the same De=0 NULL guard
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
        "(CAST(n_low AS HUGEINT) * n_high * 200000000) AS BIGINT) END AS alpha_ppm FROM g")),

    // the GENERAL-nominal alpha (>=2 categories, arbitrary per-unit
    // multiplicity): each lineitem is one rating of its order into the
    // 3-category return-flag space — n_u² − Σo² per-unit terms, margins
    // over pairable units only, same µ8/DECIMAL ladder as the binary gate
    QuerySpec("pref_krippendorff_nominal", (s, dir) =>
      Preference.krippendorffAlphaNominal(
        t(s, dir, "lineitem").select(col("l_orderkey").as("u"),
          col("l_returnflag").as("c")), "u", "c"),
      // general-nominal alpha over the 3-category return-flag log: same
      // HUGEINT ladder, margins restricted to pairable units (HAVING >= 2)
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
        "END AS alpha_ppm FROM g, ca")),

    // INTERVAL-metric alpha for numeric ratings: each lineitem rates its
    // order with l_quantity (1..50) — squared-difference disagreement in
    // moment form (count, Σv, Σv²), same µ8/DECIMAL ladder; the binary
    // gate is this operator's two-point special case (spec-pinned)
    QuerySpec("pref_krippendorff_interval", (s, dir) =>
      Preference.krippendorffAlphaInterval(
        t(s, dir, "lineitem").select(col("l_orderkey").as("u"),
          col("l_quantity").as("v")), "u", "v"),
      // interval alpha: the same moment-form statistic over HUGEINT
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
        "END AS alpha_ppm FROM g")),

    // distribution drift between snapshot halves (stable-bucket split):
    // integer-exact ppm frequencies per side, top-30 movers — the
    // post-ingest monitoring report
    QuerySpec("corpus_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      Vocab.driftTopK(
        docs.filter(Sampling.stableBucket(col("doc_id")) < 50),
        docs.filter(Sampling.stableBucket(col("doc_id")) >= 50),
        "text", k = 30)
    },
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
        "FROM j ORDER BY shift_ppm DESC, token LIMIT 30")),

    // corpus min_count pass: tokens seen < 3 times anywhere become <unk>
    // — vocab capping + long-tail privacy (singleton tokens are names,
    // ids, keys) complementing the pattern-based text_redact
    QuerySpec("corpus_unk_rare", (s, dir) =>
      Vocab.minCountScrub(t(s, dir, "documents"), "doc_id", "text",
        minCount = 3),
      // parallel unnests zip in DuckDB: (token, position) stream → vocab
      // counts → CASE scrub → ordered string_agg rebuild per doc
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
        "FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)")),

    // snapshot diff for incremental ingestion: old = stable buckets 0-89,
    // new = buckets 5-99 with every 7th doc revised — added/removed/
    // changed/unchanged by normalized content fingerprint
    QuerySpec("corpus_delta", (s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusDelta.snapshotDelta(
        docs.filter(Sampling.stableBucket(col("doc_id")) < 90)
          .select(col("doc_id"), col("text")),
        docs.filter(Sampling.stableBucket(col("doc_id")) >= 5)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
              .otherwise(col("text")).as("text")),
        "doc_id", "text")
    },
      // snapshot diff: same stable buckets + every-7th revision; DuckDB
      // array_to_string([]) is NULL where Spark concat_ws is '' → COALESCE
      // inside the md5 so empty docs fingerprint identically
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
        "FROM o FULL OUTER JOIN nn ON o.doc_id = nn.doc_id")),

    // what does each source actually contain: top-5 distinctive terms
    // per source by group-level tf-idf (shared terms score 0)
    QuerySpec("corpus_top_terms", (s, dir) =>
      Vocab.topTerms(t(s, dir, "documents"), "text", "source", k = 5),
      // group-level tf-idf: tf per (source, token), df over groups,
      // G a one-row cross join; ties break token-ascending
      (s"WITH tf AS (SELECT grp, token, count(*) AS tf FROM " +
        s"(SELECT source AS grp, unnest($sqlToks) AS token FROM documents) GROUP BY grp, token), " +
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY token), " +
        "g AS (SELECT count(DISTINCT grp) AS ng FROM tf), " +
        "sc AS (SELECT grp, token, tf::DOUBLE * ln(ng::DOUBLE / df) AS score " +
        "FROM tf JOIN df USING (token) CROSS JOIN g) " +
        "SELECT grp, CAST(rn AS INTEGER) AS term_rank, token, round(score, 6) AS score FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY grp ORDER BY score DESC, token) AS rn FROM sc) " +
        "WHERE rn <= 5")),

    // top-50 collocations by PMI (min pair count 5): multi-word units for
    // tokenizer vocab decisions; implausibly high PMI across many docs
    // flags boilerplate templates
    QuerySpec("corpus_pmi", (s, dir) =>
      Vocab.pmiTopK(t(s, dir, "documents"), "text", minCount = 5, k = 50),
      // PMI = ln((cb/nb) / ((ca/n)(cb_u/n))) — the SAME single-ln ratio tree
      // the engine builds, ordered by the unrounded score
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
        "FROM sc ORDER BY sc.pmi DESC, g LIMIT 50")),

    // screen a new batch (stable buckets 80-99) against the existing
    // corpus (buckets 0-79): exact fingerprint + MinHash LSH band
    // existence probes — left_semi joins, so no quadratic bucket risk and
    // no cap (an ingest never pairs the corpus with itself). Md5Hasher =
    // the SQL-recomputable oracle mode, same as dedup_minhash_lsh
    QuerySpec("corpus_ingest", (s, dir) => {
      val docs = tFan(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = Sampling.stableBucket(col("doc_id"))
      Dedup.ingestDedupReport(
        docs.filter(bucket < 80), docs.filter(bucket >= 80),
        "doc_id", "text", hasher = Dedup.Md5Hasher)
    },
      ingestOracleSql),

    // length-bucketed training batches (batch 8 docs, 4 stable shards):
    // per-batch padding waste when padded to the longest member — the
    // dynamic-batching design pass before writing training shards
    QuerySpec("corpus_batches", (s, dir) =>
      Sampling.lengthBucketBatches(
        t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", batchSize = 8, shards = 4),
      // fixed power-of-two ladder (never 2^ceil(log2 n): libm log2 is not
      // boundary-exact across engines); batches fill in stable doc order
      // per (bucket, shard)
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
        "(n_docs * max_tokens) ELSE 0.0 END, 6) AS pad_frac FROM g")),

    // curriculum staging: exact FK-grade quartile thresholds via the
    // bisect path (driver literals, NO percentile aggregate / corpus
    // sort), 4 difficulty stages with token budgets and exact floor-mean
    // grades — the easy→hard training-order planner
    QuerySpec("corpus_curriculum", (s, dir) => {
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
    },
      // curriculum: same FK kernel as text_readability's oracle, type-1
      // quartile thresholds by the rank-k form (≡ the engine's bisect
      // literals), same stage CASE and pmod floor-mean
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
        "FROM st GROUP BY stage, t1, t2, t3")),

    // sequence-packing report (LLM pretraining concat-and-chunk): per
    // source, documents concatenate in doc_id order into one token
    // stream sliced into fixed 512-token context windows — the report a
    // training job reads before packing a shard: window count, share of
    // docs straddling a window boundary (attention-mask fragmentation),
    // and tail-window waste. ONE source-keyed window cumsum (the
    // partition key IS the shard, packing is per-shard by definition) +
    // one aggregation; everything exact integers
    QuerySpec("corpus_pack_windows", (s, dir) => {
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
    },
      // packing: same per-source cumsum window, same straddle rule
      // (span crosses a multiple of C), all operands non-negative so
      // DuckDB's truncating // equals the engine's floor division
      (s"WITH d AS (SELECT source, doc_id, CAST(len($sqlToks) AS BIGINT) AS n FROM documents), " +
        "c AS (SELECT source, n, sum(n) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM d), " +
        s"s AS (SELECT source, n, cum, cum - n AS strt FROM c), " +
        "m AS (SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens, " +
        s"CAST(count(CASE WHEN n > 0 AND (strt // $packCapacity) <> ((cum - 1) // $packCapacity) THEN 1 END) AS BIGINT) AS n_boundary_docs " +
        "FROM s GROUP BY 1), " +
        s"w AS (SELECT source, n_docs, total_tokens, CAST((total_tokens + ${packCapacity - 1}) // $packCapacity AS BIGINT) AS n_windows, n_boundary_docs FROM m) " +
        "SELECT source, n_docs, total_tokens, n_windows, n_boundary_docs, " +
        "CAST(n_boundary_docs * 1000000 // greatest(n_docs, 1) AS BIGINT) AS boundary_ppm, " +
        s"CAST((n_windows * $packCapacity - total_tokens) * 1000000 // greatest(n_windows * $packCapacity, 1) AS BIGINT) AS waste_ppm FROM w")),

    // deterministic half-sample bootstrap (random subsampling, Hartigan
    // 1969 flavor): 32 md5-keyed half-replicas of the corpus evaluated in
    // ONE scan (64 conditional aggregates — no B-fold rescan), replica
    // means ranked on the 32-row frame only — a metric's sampling spread
    // without any RNG state, reproducible across engines and reruns
    QuerySpec("corpus_bootstrap_ci", (s, dir) => {
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
    },
      // bootstrap: the same md5(doc_id ∥ \x01 ∥ b) % 2 membership, replica
      // means as integer floors, rank-k picks over the 32-row frame
      {
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
    }),

    // nearest-centroid label propagation: per-label mean centroids from
    // the labeled 80% (stable buckets), held-out 20% classified by best
    // cosine with a best-minus-second confidence margin — doubles as a
    // holdout accuracy report (`correct`)
    QuerySpec("corpus_classify", (s, dir) =>
      Similarity.nearestCentroidClassify(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", trainPct = 80),
      // per-label DECIMAL-mean centroids from stable buckets < 80, held-out
      // vectors classified by best cosine; margin = best − second (−1.0
      // fallback), ties to the lowest label
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
        "FROM rk WHERE rn = 1")),

    // multinomial Naive Bayes language ID trained on the stable 80% and
    // scored on the held-out 20% — the SQL-recomputable stand-in for the
    // fastText-style classifiers production filters use; add-1 smoothing,
    // DECIMAL log-sums, argmax with best-minus-second margin
    QuerySpec("corpus_nb_lang", (s, dir) =>
      NaiveBayes.classify(t(s, dir, "documents"), "doc_id", "text", // fan A/B: 0.46x fanned
        "lang", trainPct = 80, alpha = 1.0),
      // multinomial NB: per-class token counts with add-1 smoothing, per-
      // occurrence DECIMAL ln-sums, prior + likelihood argmax (ties label-
      // asc); zero-token docs classify by prior via the left join
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
        "FROM rk WHERE rn = 1")),

    // per-language inspection examples: first 3 docs per lang in stable-
    // hash order (WindowGroupLimit keeps the per-stratum reducer bounded)
    QuerySpec("corpus_examples", (s, dir) =>
      Sampling.stratumExamples(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          col("doc_id"), col("lang"), n = 3)
        .select(col("lang"), col("example_rank"), col("doc_id")),
      ("SELECT lang, CAST(rn AS INTEGER) AS example_rank, doc_id FROM " +
        "(SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
        "ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1073741824, doc_id) AS rn " +
        "FROM documents) WHERE rn <= 3")),

    // quality-gate calibration: data-derived thresholds (percentiles of
    // the quality features) — exact mode here for the oracle; approx=true
    // (t-digest sketches) is the 100 TB default
    QuerySpec("corpus_calibrate", (s, dir) =>
      Sampling.qualityCalibration(t(s, dir, "documents"), "doc_id", "text"),
      // exact percentile ≡ DuckDB quantile_cont (same linear-interpolation
      // definition); feature expressions shared with text_quality's oracle
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
        "round(quantile_cont(sr, 0.5), 6) AS stopword_ratio_p50 FROM f")),

    // URL canonicalization + per-domain crawl caps: lowercase scheme/host,
    // strip default port / www. / fragment / tracking params, sort the
    // survivors, trim trailing slashes — then the per-host report counts
    // exact re-crawl twins (same canonical, different raw spelling) and
    // the overshoot past the per-domain cap
    QuerySpec("corpus_url_canonical", (s, dir) => {
      val raw = concat(lit(urlP1), col("source"), lit(urlP2),
        (col("doc_id") % 7).cast("string"), lit(urlP3),
        (col("doc_id") % 30).cast("string"), lit(urlP4),
        col("doc_id").cast("string"), lit(urlP5),
        col("doc_id").cast("string"))
      Urls.domainReport(t(s, dir, "documents").select(raw.as("url")),
        "url", urlDomainCap)
    },
      // canonicalization rerun under RE2 via the shared sqlCanonChain (same
      // regex constants as the engine); rtrim(x, '/') strips all trailing
      // slashes in both engines
      (s"WITH u AS (SELECT '$urlP1' || source || '$urlP2' || (doc_id % 7) || '$urlP3' || (doc_id % 30) || '$urlP4' || doc_id || '$urlP5' || doc_id AS url FROM documents), " +
        sqlCanonChain("u", Seq.empty) + " " +
        s"SELECT lower(regexp_extract(cu, '${Urls.HostRe}', 1)) AS host, " +
        "count(*) AS n_docs, count(DISTINCT cu) AS n_canonical, " +
        "CAST(count(*) - count(DISTINCT cu) AS BIGINT) AS n_dup, " +
        s"CAST(greatest(count(*) - $urlDomainCap, 0) AS BIGINT) AS suggested_drop " +
        "FROM canon GROUP BY 1")),

    // host-level outlink graph: hrefs harvested from synthesized pages
    // (HrefRe), relative links dropped, targets canonicalized, one hash
    // aggregation to (src_host, dst_host) edges with raw link + distinct
    // canonical-target counts — the crawl-frontier / domain-PageRank input
    QuerySpec("corpus_link_graph", (s, dir) => {
      def link(j: Int, tail: String) = concat(lit(linkA1),
        ((col("doc_id") + j) % 20).cast("string"), lit(linkA2),
        (col("doc_id") % 11).cast("string"), lit(tail))
      val html = concat(link(1, linkJ1), link(2, linkJ2), link(3, linkJ3))
      val links = t(s, dir, "documents")
        .select(concat(col("source"), lit(".example.com")).as("src_host"),
          explode(Html.outlinks(html)).as("url"))
      Urls.linkGraph(links, "src_host", "url")
    },
      // hrefs re-extracted with the same HrefRe under RE2, relative links
      // dropped by the same AbsoluteRe, canonicalization via sqlCanonChain
      (s"WITH h AS (SELECT source || '.example.com' AS src_host, " +
        s"'$linkA1' || ((doc_id + 1) % 20) || '$linkA2' || (doc_id % 11) || '$linkJ1' || " +
        s"'$linkA1' || ((doc_id + 2) % 20) || '$linkA2' || (doc_id % 11) || '$linkJ2' || " +
        s"'$linkA1' || ((doc_id + 3) % 20) || '$linkA2' || (doc_id % 11) || '$linkJ3' AS html FROM documents), " +
        s"l AS (SELECT src_host, unnest(regexp_extract_all(html, '${Html.HrefRe}', 1)) AS url FROM h), " +
        s"u AS (SELECT src_host, url FROM l WHERE url <> '' AND regexp_matches(url, '${Urls.AbsoluteRe}')), " +
        sqlCanonChain("u", Seq("src_host")) + " " +
        s"SELECT src_host, lower(regexp_extract(cu, '${Urls.HostRe}', 1)) AS dst_host, " +
        "count(*) AS n_links, count(DISTINCT cu) AS n_targets " +
        "FROM canon GROUP BY 1, 2")),

    // robots politeness screen: parse per-host robots bodies (star-group
    // resolution via window math), screen the frontier with longest-
    // prefix-wins / allow-on-tie, report per-host allowed/blocked counts
    // + the effective crawl delay
    QuerySpec("corpus_robots_screen", (s, dir) => {
      val (robots, frontier) = robotsInputs(s, dir)
      Robots.hostReport(
        Robots.screen(frontier, Robots.parseRules(robots, "host", "body"),
          "url"),
        Robots.crawlDelays(robots, "host", "body"))
    },
      // robots: bodies + frontier rebuilt from the shared constants, the
      // same star-group window math and longest-prefix/allow-tie pick
      (s"WITH $sqlRobotsScr " +
        "SELECT s.host, count(CASE WHEN allowed THEN 1 END) AS n_allowed, " +
        "count(CASE WHEN NOT allowed THEN 1 END) AS n_blocked, " +
        "CAST(COALESCE(max(d.crawl_delay_s), 0) AS BIGINT) AS crawl_delay_s " +
        "FROM scr s LEFT JOIN rdelays d ON s.host = d.host GROUP BY s.host")),

    // the fetcher's kill list: every blocked frontier URL with the rule
    // prefix that blocked it
    QuerySpec("corpus_robots_blocked", (s, dir) => {
      val (robots, frontier) = robotsInputs(s, dir)
      Robots.screen(frontier, Robots.parseRules(robots, "host", "body"),
          "url")
        .filter(!col("allowed"))
        .select(col("host"), col("url"), col("matched_prefix"))
    },
      (s"WITH $sqlRobotsScr " +
        "SELECT host, url, matched_prefix FROM scr WHERE NOT allowed")),

    // group-independent Sitemap pointers (RFC 9309 §2.3 non-group
    // records) — the crawl seeder's input
    QuerySpec("corpus_sitemaps", (s, dir) => {
      val (robots, _) = robotsInputs(s, dir)
      Robots.sitemaps(robots, "host", "body")
    },
      (s"WITH $sqlRobotsScr " +
        "SELECT host, val AS sitemap_url FROM rdl " +
        "WHERE dir = 'sitemap' AND val <> ''")),

    // the politeness layer's output artifact: allowed URLs queued per
    // host with earliest start offsets respecting the crawl delay — the
    // window partitions BY HOST, so the plan scales with hosts
    QuerySpec("corpus_fetch_schedule", (s, dir) => {
      val (robots, frontier) = robotsInputs(s, dir)
      Robots.fetchSchedule(
        Robots.screen(frontier, Robots.parseRules(robots, "host", "body"),
          "url"),
        Robots.crawlDelays(robots, "host", "body"))
    },
      (s"WITH $sqlRobotsScr, " +
        "sched AS (SELECT s.host, s.url, " +
        "row_number() OVER (PARTITION BY s.host ORDER BY s.url) - 1 AS fetch_seq, " +
        "COALESCE(d.crawl_delay_s, 0) AS delay " +
        "FROM scr s LEFT JOIN rdelays d ON s.host = d.host WHERE s.allowed) " +
        "SELECT host, url, CAST(fetch_seq AS BIGINT) AS fetch_seq, " +
        "CAST(fetch_seq * delay AS BIGINT) AS offset_s FROM sched")),

    // WARC-style archive round trip: pages pack into multi-record archive
    // blobs (CRLF headers, byte-exact Content-Length) → the byte-offset
    // record walk parses them back → boilerplate-stripped extraction.
    // A length/separator bug corrupts every later record in a blob, so
    // the oracle (which rebuilds the expected output straight from
    // documents) catches container drift, not just string bugs
    QuerySpec("warc_main_text", (s, dir) => {
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
    },
      // expected output rebuilt STRAIGHT from documents (no container):
      // equality with the engine's pack→parse→extract round trip is the
      // archive-codec correctness claim
      {
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
    }),

    // grouped exact percentiles: per-language length quartiles (the
    // calibrate machinery, stratified — approx_percentile at 100 TB)
    QuerySpec("corpus_length_quantiles", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          percentile(col("n_chars"), lit(0.25)).as("p25"),
          percentile(col("n_chars"), lit(0.5)).as("p50"),
          percentile(col("n_chars"), lit(0.75)).as("p75"),
          percentile(col("n_chars"), lit(0.9)).as("p90")),
      // percentile ≡ quantile_cont on identical BIGINT inputs (the
      // calibrate precedent), stratified by language
      ("SELECT lang, count(*) AS n_docs, " +
        "quantile_cont(n_chars, 0.25) AS p25, " +
        "quantile_cont(n_chars, 0.5) AS p50, " +
        "quantile_cont(n_chars, 0.75) AS p75, " +
        "quantile_cont(n_chars, 0.9) AS p90 " +
        "FROM documents GROUP BY lang")),

    // per-language source-concentration report: Simpson Σ(share)² and the
    // top source's share as exact floor-ppm — the "is this stratum one
    // takedown away from collapsing" mixture-design check
    QuerySpec("corpus_diversity", (s, dir) =>
      Sampling.sourceConcentration(t(s, dir, "documents"), col("lang"),
        col("source")).orderBy(col("stratum")),
      // Simpson concentration: all-integer (HUGEINT products, // floor on
      // non-negative operands ≡ the engine's decimal intDiv)
      ("WITH p AS (SELECT lang AS stratum, source, count(*) AS c " +
        "FROM documents GROUP BY 1, 2), " +
        "a AS (SELECT stratum, sum(c) AS n_docs, count(*) AS n_sources, " +
        "sum(CAST(c AS HUGEINT) * c) AS sq, max(c) AS cmax FROM p GROUP BY 1) " +
        "SELECT stratum, CAST(n_docs AS BIGINT) AS n_docs, n_sources, " +
        "CAST((sq * 1000000) // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS simpson_ppm, " +
        "CAST((CAST(cmax AS HUGEINT) * 1000000) // CAST(n_docs AS HUGEINT) AS BIGINT) AS top_share_ppm " +
        "FROM a")),

    QuerySpec("corpus_by_source", (s, dir) => {
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
    },
      (s"WITH t AS (SELECT source, lang, " +
        "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / " +
        "CAST(CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END AS DOUBLE) AS DECIMAL(27,12)) AS ar, " +
        s"len($sqlToks) AS nt FROM documents) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens, " +
        "round(CAST(sum(ar) AS DOUBLE) / count(*), 6) AS mean_alpha_ratio, " +
        "count(DISTINCT lang) AS n_langs FROM t GROUP BY source")),

    // exact two-sample KS over doc length between the two corpus
    // snapshots (stable md5 buckets <80 / >=80) — the binning-free drift
    // test beside PSI, division-free in BIGINT so both engines agree
    // bit-for-bit
    QuerySpec("drift_ks_doclen", (s, dir) =>
      Profile.ksTwoSample(
        t(s, dir, "documents").select(col("n_chars").as("v"),
          (Sampling.stableBucket(col("doc_id")) < 80).as("is_a")),
        "v", "is_a"),
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
        "FROM f CROSS JOIN t GROUP BY n_a, n_b")),

    // contrastive negatives: stable-hash draw of 5 cross-source negatives
    // per anchor (broadcast anchors over one corpus scan, salted top-k)
    QuerySpec("corpus_negatives", (s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.contrastiveNegatives(
        docs.filter(col("doc_id") < negAnchorMax), "doc_id", "source",
        docs, "doc_id", "source", k = 5)
    },
      // contrastive negatives: the same 48-bit md5 draw, smallest-k per
      // anchor (h ASC ≡ the Spark side's -h DESC)
      s"""WITH a AS (SELECT doc_id AS aid, source AS asrc FROM documents
        |           WHERE doc_id < $negAnchorMax),
        |cand AS (SELECT aid, c.doc_id AS nid,
        |  ('0x' || substring(md5(aid::VARCHAR || ':' || c.doc_id::VARCHAR), 1, 12))::BIGINT AS h
        |  FROM a JOIN documents c ON c.doc_id <> a.aid AND c.source <> a.asrc)
        |SELECT aid AS anchor_id, CAST(rn AS INTEGER) AS rank, nid AS neg_id
        |FROM (SELECT *, row_number() OVER (PARTITION BY aid ORDER BY h, nid) AS rn
        |      FROM cand) WHERE rn <= 5""".stripMargin),

    // CCNet head/middle/tail: exact tercile thresholds of the self-LM
    // cross-entropy, derived from the corpus itself — the standard
    // perplexity quality gate
    QuerySpec("corpus_ppl_buckets", (s, dir) =>
      LangModel.perplexityBuckets(tFan(s, dir, "documents"), "doc_id", "text"),
      // shared per-doc cross-entropy body, then exact tercile thresholds
      // (quantile_cont ≡ percentile, the calibrate precedent; the 1/3 and
      // 2/3 doubles interpolate from the SAME Scala computation)
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
        "CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams FROM b GROUP BY bucket")),

    // DoReMi-style mixture reweighting: one exponentiated-gradient step
    // from uniform — sources the corpus LM finds hard get up-weighted
    QuerySpec("corpus_doremi_weights", (s, dir) =>
      LangModel.doremiSourceWeights(tFan(s, dir, "documents"), "doc_id",
        "text", "source"),
      // same per-doc CE body + round(6) as text_perplexity, then the
      // source rollup and the one-step EG update — exp rides the same
      // cross-engine-libm precedent as the model's ln
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
        "FROM sc2, nrm")),

    // Unicode normalization screen (UAX #15 via the codegen'd
    // graft_normalize expression): composed vs decomposed variants of
    // the same per-doc payload are raw-UNEQUAL and must become
    // NFC-EQUAL, with the decomposed side losing exactly its combining
    // marks in codepoint length — the text-canonicalization pass a
    // multilingual corpus runs before hashing/dedup. Fixtures are
    // synthesized from doc_id (the shared-constants robots pattern) so
    // the oracle rebuilds the identical inputs with chr() literals
    QuerySpec("corpus_nfc_normalize", (s, dir) => {
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
    },
      // same per-doc payloads rebuilt with chr() (769 = U+0301 combining
      // acute, 778 = U+030A combining ring; 233/197/243 = the precomposed
      // twins), DuckDB's UAX#15 nfc_normalize vs the engine's
      // graft_normalize expression
      ("WITH f AS (SELECT " +
        "'doc' || doc_id || ' cafe' || chr(769) || ' A' || chr(778) || ' ro' || chr(769) || 'le' AS d, " +
        "'doc' || doc_id || ' caf' || chr(233) || ' ' || chr(197) || ' r' || chr(243) || 'le' AS p " +
        "FROM documents) " +
        "SELECT count(*) AS n_docs, " +
        "count(CASE WHEN d = p THEN 1 END) AS n_raw_equal, " +
        "count(CASE WHEN nfc_normalize(d) = nfc_normalize(p) THEN 1 END) AS n_nfc_equal, " +
        "CAST(sum(length(d)) AS BIGINT) AS len_raw, " +
        "CAST(sum(length(nfc_normalize(d))) AS BIGINT) AS len_nfc FROM f")),

    // content blocklist screen: violating docs with hit counts and the
    // sorted matched terms (list rides as a codegen'd array literal)
    QuerySpec("corpus_blocklist", (s, dir) => driverSafe(
      TextFunctions.blocklistScreen(t(s, dir, "documents"), "doc_id",
        "text", blocklistTerms)),
      // same array-literal membership test; empty lists cannot occur (the
      // n_hits > 0 gate) so array_to_string never sees NULL
      {
      val bl = blocklistTerms.map("'" + _ + "'").mkString("[", ",", "]")
      s"WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "h AS (SELECT doc_id, " +
        s"CAST(len(list_filter(toks, x -> list_contains($bl, x))) AS BIGINT) AS n_hits, " +
        s"array_to_string(list_sort(list_filter(list_distinct(toks), x -> list_contains($bl, x))), '|') AS matched_terms " +
        "FROM t) " +
        "SELECT doc_id, n_hits, matched_terms FROM h WHERE n_hits > 0"
    }),

    // corpus composition by embedding cluster: per-cell population,
    // cohesion (mean cosine to centroid, DECIMAL-summed) and label purity
    // — the pre-mixture analysis pass. Anchor mode (iters=0 ≡ 8 lowest-id
    // seed vectors) so the oracle recomputes the assignment; trained mode
    // is pinned by DedupSimilaritySpec
    QuerySpec("corpus_cluster", (s, dir) =>
      Similarity.clusterProfile(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", numCells = 8, iters = 0),
      // cluster profile: same anchor centroids + argmax assignment as
      // dedup_semantic, then per-cell cohesion (decimal-summed cosine) and
      // top-1 label by (count DESC, label ASC)
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
        "FROM st JOIN top USING (cell)")),

    // token-BUDGET mixture: keep-rates derived from per-language token
    // volume to hit a 10k-token corpus at en 50% / zh 20% / others 10% —
    // all integer arithmetic (ppm granularity, so a stratum whose volume
    // dwarfs its target still gets a nonzero rate), recomputed by the oracle
    QuerySpec("corpus_mixture", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      Sampling.tokenBudgetMixture(docs, col("doc_id"), col("lang"),
        col("n_tok"), budgetTokens = 10000L,
        sharePctByStratum = Map("en" -> 50, "zh" -> 20), defaultSharePct = 10)
        .select(col("doc_id"), col("lang"), col("rate_ppm"))
    },
      // integer-exact ppm mixture rates: // is DuckDB floor division,
      // mirroring the engine's decimal-exact (a - a mod b) / b
      (s"WITH t AS (SELECT doc_id, lang, len($sqlToks) AS ntok FROM documents), " +
        "tot AS (SELECT lang, CAST(sum(ntok) AS BIGINT) AS total, " +
        "CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 20 ELSE 10 END AS share " +
        "FROM t GROUP BY lang), " +
        "r AS (SELECT lang, CASE WHEN total > 0 THEN " +
        "least(1000000, (1000000::BIGINT * ((10000::BIGINT * share) // 100)) // total) ELSE 0 END AS rate FROM tot) " +
        "SELECT t.doc_id, t.lang, CAST(r.rate AS BIGINT) AS rate_ppm " +
        "FROM t JOIN r USING (lang) " +
        "WHERE ('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 < r.rate")),

    // temperature-scaled source mixing (mT5/XLM-R, α=0.5): per-source
    // shares ∝ √(token volume) — the standard low-resource upweighting —
    // quantized to integer micro-units so every downstream division is
    // exact; rates sized to a 50k-token budget
    QuerySpec("corpus_temperature", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      Sampling.temperatureMix(docs, col("source"), col("n_tok"),
        budgetTokens = tempBudgetTokens)
    },
      // α=0.5 temperature shares: sqrt is correctly rounded by IEEE in both
      // engines; everything after the micro-unit quantization is integer
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
        "ELSE 0 END AS BIGINT) AS rate_ppm FROM sh")),

    // DSIR importance weights (Xie et al. NeurIPS'23): hashed unigram+
    // bigram bucket distributions fitted on a curated target (source =
    // 'src0' stands in for the reference corpus) vs the raw rest; every
    // raw doc scored by its summed log likelihood ratio. The fitted model
    // is two ≤4096-row count frames that BROADCAST onto the score join —
    // the exploded n-gram stream itself never shuffles
    QuerySpec("corpus_dsir", (s, dir) =>
      Dsir.importanceWeights(
        dsirFeats(s, dir).filter(col("source") =!= "src0"), "doc_id", "feats",
        dsirFeats(s, dir).filter(col("source") === "src0"), "feats",
        buckets = 4096),
      // DSIR: hashed-n-gram bucket counts on target (src0) vs raw, additive
      // 0.5 smoothing, per-doc DECIMAL sum of one ln-of-ratio term — the
      // identical expression tree the engine evaluates
      (dsirWeightsSql +
      "SELECT r.doc_id, COALESCE(s.n_feats, 0) AS n_feats, " +
      "COALESCE(round(CAST(s.s AS DOUBLE), 6), 0.0) AS log_weight " +
      "FROM (SELECT doc_id FROM d WHERE source <> 'src0') r " +
      "LEFT JOIN s USING (doc_id)")),

    // Gumbel top-k resample over those weights — sampling without
    // replacement ∝ w (Vieira'14) as a pure function of (id, weight), so
    // the selected training subset is re-derivable by any engine (the
    // auditable-lineage property random sampling lacks)
    QuerySpec("corpus_dsir_select", (s, dir) =>
      Dsir.gumbelTopK(
        Dsir.importanceWeights(
          dsirFeats(s, dir).filter(col("source") =!= "src0"), "doc_id", "feats",
          dsirFeats(s, dir).filter(col("source") === "src0"), "feats",
          buckets = 4096),
        "doc_id", "log_weight", k = 100),
      // Gumbel top-k: key = log_weight + (-ln(-ln(u))), u from the md5 of
      // "gumbel:"||id (13 hex chars = 52 bits, exact in a double)
      (dsirWeightsSql +
      ", w AS (SELECT r.doc_id, COALESCE(s.n_feats, 0) AS n_feats, " +
      "COALESCE(round(CAST(s.s AS DOUBLE), 6), 0.0) AS log_weight " +
      "FROM (SELECT doc_id FROM d WHERE source <> 'src0') r " +
      "LEFT JOIN s USING (doc_id)) " +
      "SELECT doc_id, n_feats, log_weight, " +
      "round(log_weight + -ln(-ln(" +
      "(('0x' || substring(md5('gumbel:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5) " +
      "/ 4503599627370496.0)), 6) AS sample_key " +
      "FROM w ORDER BY sample_key DESC, doc_id LIMIT 100")))
}
