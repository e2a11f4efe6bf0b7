package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HtmlSpec extends SparkSpec {
  import spark.implicits._

  private def run(html: String, maxLinkPpm: Long = 300000L,
                  minChars: Int = 25): String =
    Seq(html).toDF("h")
      .select(Html.mainContent(col("h"), maxLinkPpm, minChars).as("m"))
      .collect()(0).getString(0)

  test("planted boilerplate (nav, link farm, footer, script, style, " +
      "comments) is dropped; the prose block with an inline link survives") {
    val prose = "The quick brown fox jumps over the lazy dog and then " +
      "keeps running through the forest for a very long time."
    val html =
      "<html><head><title>T</title><style>.x{color:red}</style>" +
        "<script>var x = '<div>not content</div>';</script></head><body>" +
        "<!-- comment with words that must not leak -->" +
        "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>" +
        s"<div>$prose See <a href='/ref'>the guide</a>.</div>" +
        "<div><a href='/1'>Long related article headline number one</a> " +
        "<a href='/2'>Another long related article headline two</a></div>" +
        "<footer><a href='/tos'>Terms of Service</a> (c) Corp</footer>" +
        "</body></html>"
    val out = run(html)
    // tags are replaced by a space (word-joining across tags would corrupt
    // tokens), so the anchor's closing tag leaves one before the period
    assert(out === s"$prose See the guide .")
    assert(!out.contains("Home") && !out.contains("Terms") &&
      !out.contains("related article") && !out.contains("not content") &&
      !out.contains("comment with words"))
  }

  test("entities decode once, &amp; last (no double-decode)") {
    val out = run("<div>" + ("x " * 20) +
      "a &lt; b &amp;&nbsp;c &amp;lt; literal</div>")
    // &amp;lt; decodes to &lt; (the & first), NOT to <
    assert(out.endsWith("a < b & c &lt; literal"))
  }

  test("link-density rule is an exact ppm threshold, not a float") {
    // 31 visible chars (tag → space), 10 of them anchor text:
    // 10·10⁶ / 31 = 322580.6… — kept once maxLinkPpm·31 ≥ 10⁷, i.e. at
    // 322581, dropped at 322580 (exact cross-multiplied comparison)
    val tenLink = "0123456789"
    val body = s"<p>aaaaaaaaaabbbbbbbbbb<a href='/x'>$tenLink</a></p>"
    assert(run(body, maxLinkPpm = 322581L, minChars = 10) ===
      s"aaaaaaaaaabbbbbbbbbb $tenLink")
    assert(run(body, maxLinkPpm = 322580L, minChars = 10) === "")
  }

  test("short blocks drop; all-boilerplate pages yield '' (not NULL)") {
    assert(run("<p>too short</p>") === "")
    assert(run("<nav><a href='/'>Home Page Link Here And More Text</a></nav>")
      === "")
  }

  test("title pulls visible text through tag soup") {
    val df = Seq("<html><head><title> My  <b>Page</b> </title></head>" +
      "<body><p>Hello&nbsp;world</p><script>nope()</script></body></html>")
      .toDF("h")
    val r = df.select(Html.title(col("h")).as("t")).collect()(0)
    assert(r.getString(0) === "My Page")
  }

  test("mainContent plan is pure expressions — no UDF, no shuffle") {
    val df = Seq("<p>x</p>").toDF("h")
      .select(Html.mainContent(col("h")).as("m"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !df.queryExecution.optimizedPlan
      .toString.toLowerCase.contains("scalaudf"), plan)
  }
}
