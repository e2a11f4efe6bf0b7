package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + per-domain crawl hygiene (beyond-parity): the
  * crawl-side complement of the content dedup stack. The same article
  * arrives under dozens of spellings — mixed-case scheme/host, default
  * ports, `www.`, tracking query params, shuffled param order, fragments,
  * trailing slashes — and a corpus that keys on the raw string both
  * over-counts domains and misses exact re-crawls. Canonicalization is
  * pure per-row expression work (regexp extracts + array HOFs, no UDF, no
  * shuffle); the per-domain report is one hash aggregation.
  *
  * Scope: absolute http(s) URLs (scheme-relative/userinfo forms pass
  * through structurally — host parsing keeps whatever is between `://`
  * and the first `/?#`). Path case is PRESERVED (paths are case-sensitive
  * per RFC 3986; only scheme and host are case-insensitive). */
object Urls {

  /** Query parameter names that never identify content (tracking). */
  val TrackingParamRe: String =
    "^(?:utm_[^=]*|gclid|fbclid|ref|mc_cid|mc_eid)(?:=|$)"

  val SchemeRe: String = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  val HostRe: String = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  val RestRe: String = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)"
  val FragmentRe: String = "#.*"
  val WwwRe: String = "^www\\."
  val HttpPortRe: String = ":80$"
  val HttpsPortRe: String = ":443$"

  /** Canonical form: lowercase scheme+host, default port stripped
    * (`:80` http / `:443` https), leading `www.` stripped, fragment
    * dropped, tracking params dropped, surviving params SORTED, trailing
    * path slashes trimmed (empty path → `/`). Deterministic pure string
    * math — the DuckDB oracle reruns the same regex constants. */
  def canonicalize(url: Column): Column = {
    val noFrag = regexp_replace(url, FragmentRe, "")
    val scheme = lower(regexp_extract(noFrag, SchemeRe, 1))
    val hostport = lower(regexp_extract(noFrag, HostRe, 1))
    val noPort =
      when(scheme === "http", regexp_replace(hostport, HttpPortRe, ""))
        .when(scheme === "https", regexp_replace(hostport, HttpsPortRe, ""))
        .otherwise(hostport)
    val host = regexp_replace(noPort, WwwRe, "")
    val pathq = regexp_extract(noFrag, RestRe, 1)
    val rawPath = regexp_extract(pathq, "^([^?]*)", 1)
    val trimmed = rtrim(rawPath, "/")
    val path = when(trimmed === "", "/").otherwise(trimmed)
    val query = regexp_extract(pathq, "\\?(.*)", 1)
    val params = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike(TrackingParamRe)))
    concat(scheme, lit("://"), host, path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
  }

  /** Host of an (already canonical or raw) absolute URL, lowercased. */
  def host(url: Column): Column =
    lower(regexp_extract(url, HostRe, 1))

  /** Absolute http(s) test — the pre-filter before [[canonicalize]] on
    * scraped hrefs (relative links need a base-resolution pass first). */
  val AbsoluteRe: String = "^(?i)https?://"

  /** Host-level outlink graph over canonicalized link targets: for each
    * (source host, destination host) edge, the raw link count and the
    * distinct canonical targets — the crawl-frontier / authority signal
    * and the input to domain-level PageRank. Relative and non-http links
    * are dropped (documented: resolution against a base URL is a separate
    * concern). One filter + projection + one hash aggregation. */
  def linkGraph(links: DataFrame, srcHostCol: String,
                urlCol: String): DataFrame =
    links.filter(col(urlCol).rlike(AbsoluteRe))
      .select(col(srcHostCol).as("src_host"),
        canonicalize(col(urlCol)).as("_cu"))
      .groupBy(col("src_host"), host(col("_cu")).as("dst_host"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col("_cu")).as("n_targets"))

  /** Per-domain crawl report over canonicalized URLs: document count,
    * distinct canonical URLs, exact re-crawl duplicates (same canonical,
    * different raw spelling), and the overshoot past the per-domain cap —
    * the "this domain needs throttling / dedup" signal a crawl scheduler
    * consumes. One projection + one hash aggregation with an exact
    * distinct, which the oracle recomputes. */
  def domainReport(urls: DataFrame, urlCol: String, cap: Long): DataFrame = {
    val canon = urls.select(canonicalize(col(urlCol)).as("_cu"))
    canon.select(host(col("_cu")).as("host"), col("_cu"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("_cu")).as("n_canonical"),
        (count(lit(1)) - count_distinct(col("_cu"))).as("n_dup"),
        greatest(count(lit(1)) - lit(cap), lit(0L)).as("suggested_drop"))
  }
}
