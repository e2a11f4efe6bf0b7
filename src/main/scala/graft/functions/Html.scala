package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML → main-text extraction (beyond-parity): the first stage of every
  * web-crawl training corpus — strip markup and drop the boilerplate
  * blocks (navigation, footers, link farms) that would otherwise dominate
  * near-dup groups and poison n-gram statistics.
  *
  * All of it is native expressions (`regexp_replace` / `split` + array
  * HOFs — codegen-friendly, no UDF anywhere): the page is first cleansed
  * of content-free containers (script/style/noscript/template, comments),
  * then split into blocks at closing block-level tags, and each block is
  * kept only when it looks like prose — enough visible characters AND a
  * link density (anchor-text chars per visible chars, exact integer ppm)
  * below the threshold. That length × link-density rule is the core of
  * the classic boilerplate detectors (Boilerpipe, jusText) reduced to its
  * portable, engine-exact form: integer cross-multiplication, no floats,
  * no trained model. Patterns avoid backreferences so the same strings
  * run under Java regex (Spark) and RE2 (DuckDB — the oracle twin adds
  * only the 'g' flag).
  *
  * Scale shape: strictly per-row string work — no shuffle, no state;
  * whole-stage codegen keeps it in one pass over the corpus. */
object Html {

  /** Containers whose CONTENT is noise (RE2-safe: spelled-out alternation
    * instead of a backreference on the tag name). */
  val DropContentRe: String =
    "(?is)<script\\b[^>]*>.*?</script>|<style\\b[^>]*>.*?</style>" +
      "|<noscript\\b[^>]*>.*?</noscript>|<template\\b[^>]*>.*?</template>"
  val CommentRe: String = "(?s)<!--.*?-->"
  val TagRe: String = "(?s)<[^>]*>"

  /** Closing tags that end a text block (block-level elements). */
  val BlockCloseRe: String =
    "(?i)</(?:p|div|nav|footer|header|aside|li|ul|ol|h[1-6]|table|section|article|blockquote)>"

  /** Anchor inner HTML (group 1); `(?:\s[^>]*)?` keeps `<aside`/`<article`
    * from matching as anchors. */
  val AnchorRe: String = "(?is)<a(?:\\s[^>]*)?>(.*?)</a>"

  val TitleRe: String = "(?is)<title>(.*?)</title>"

  /** The minimal HTML entity set, decoded in an order that cannot
    * double-decode (`&amp;` last). Mirrored verbatim by the oracle. */
  val Entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&nbsp;" -> " ", "&amp;" -> "&")

  private def decodeEntities(c: Column): Column =
    Entities.foldLeft(c) { case (acc, (from, to)) =>
      replace(acc, lit(from), lit(to))
    }

  /** Visible text of an HTML fragment: tags → space, entities decoded,
    * whitespace collapsed, trimmed. */
  def visibleText(c: Column): Column =
    trim(regexp_replace(decodeEntities(regexp_replace(c, TagRe, " ")),
      "\\s+", " "))

  /** The page's `<title>` text. */
  def title(c: Column): Column = visibleText(regexp_extract(c, TitleRe, 1))

  /** Anchor-text characters of a fragment (the numerator of link
    * density): all `<a>` inner HTMLs joined and stripped. */
  private def linkChars(b: Column): Column =
    length(visibleText(array_join(regexp_extract_all(b, lit(AnchorRe), lit(1)),
      " "))).cast("long")

  /** Double-quoted href attribute values (the overwhelmingly dominant
    * form; single-quoted attrs would need a second pattern — unmatched
    * alternation groups extract differently across engines). */
  val HrefRe: String = "(?i)href=\"([^\"]*)\""

  /** All outlink targets of a page (double-quoted href values, in
    * document order, non-empty). Callers filter to absolute links /
    * canonicalize via [[Urls]]. */
  def outlinks(c: Column): Column =
    filter(regexp_extract_all(c, lit(HrefRe), lit(1)), u => u =!= "")

  /** Main-content extraction: split into blocks at closing block tags,
    * keep blocks with ≥ `minChars` visible characters AND anchor-text
    * density ≤ `maxLinkPpm` (exact integer cross-multiplication:
    * `linkChars·10⁶ ≤ textChars·maxLinkPpm`), join the survivors'
    * visible text with newlines. Empty result is '' (not NULL).
    *
    * Single regex pass per block: one `transform` scores every block into
    * a `struct(visible, link_chars)` so the regex-heavy [[visibleText]] /
    * [[linkChars]] kernels run exactly once each, and the filter/project
    * stages only touch the precomputed struct fields. */
  def mainContent(html: Column, maxLinkPpm: Long = 300000L,
                  minChars: Int = 25): Column = {
    val clean = regexp_replace(regexp_replace(html, DropContentRe, " "),
      CommentRe, " ")
    val blocks = split(clean, BlockCloseRe)
    val scored = transform(blocks, b =>
      struct(visibleText(b).as("visible"), linkChars(b).as("link_chars")))
    val kept = filter(scored, s =>
      length(s("visible")).cast("long") >= lit(minChars.toLong) &&
        s("link_chars") * lit(1000000L) <=
          length(s("visible")).cast("long") * lit(maxLinkPpm))
    array_join(transform(kept, s => s("visible")), "\n")
  }
}
