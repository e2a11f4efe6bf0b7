package graft.functions

import graft.SparkSpec

/** robots.txt parsing + screening semantics: group resolution, the
  * longest-prefix / allow-on-tie pick, and the politeness report. */
class RobotsSpec extends SparkSpec {
  import spark.implicits._

  private def screenOf(body: String, urls: Seq[String]) = {
    val robots = Seq(("h.example.com", body)).toDF("host", "body")
    val frontier = urls.toDF("url")
    Robots.screen(frontier, Robots.parseRules(robots, "host", "body"), "url")
      .select($"url", $"allowed", $"matched_prefix")
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(1), Option(r.getString(2)))).toMap
  }

  test("named-agent groups are skipped; only the star group's rules bind") {
    val body = "User-agent: fetchbot\nDisallow: /\n\n" +
      "User-agent: *\nDisallow: /private\n"
    val s = screenOf(body, Seq(
      "http://h.example.com/open/page",
      "http://h.example.com/private/x"))
    assert(s("http://h.example.com/open/page")._1)
    assert(!s("http://h.example.com/private/x")._1)
    assert(s("http://h.example.com/private/x")._2.contains("/private"))
  }

  test("longest prefix wins and Allow wins a length tie") {
    val body = "User-agent: *\nDisallow: /a\nAllow: /a/ok\n" +
      "Allow: /b\nDisallow: /b\n"
    val s = screenOf(body, Seq(
      "http://h.example.com/a/x",      // /a disallow
      "http://h.example.com/a/ok/x",   // /a/ok allow overrides
      "http://h.example.com/b/x"))     // tie at len 2 → allow
    assert(!s("http://h.example.com/a/x")._1)
    assert(s("http://h.example.com/a/ok/x")._1)
    assert(s("http://h.example.com/b/x")._1)
  }

  test("literal prefixes match partial path segments (the REP subtlety)") {
    val s = screenOf("User-agent: *\nDisallow: /item-1\n", Seq(
      "http://h.example.com/item-10/x", // "/item-1" IS a prefix
      "http://h.example.com/item-2/x"))
    assert(!s("http://h.example.com/item-10/x")._1)
    assert(s("http://h.example.com/item-2/x")._1)
  }

  test("RFC 9309 wildcards: * matches any sequence, trailing $ anchors " +
      "end-of-path") {
    val body = "User-agent: *\nDisallow: /*.tmp$\nDisallow: /dl/*/x\n"
    val s = screenOf(body, Seq(
      "http://h.example.com/files/a.tmp",  // ends .tmp → blocked
      "http://h.example.com/files/a.tmpx", // $ anchor fails → allowed
      "http://h.example.com/dl/v1/x",      // mid-path * → blocked
      "http://h.example.com/dl/v1/y"))
    assert(!s("http://h.example.com/files/a.tmp")._1)
    assert(s("http://h.example.com/files/a.tmp")._2.contains("/*.tmp$"))
    assert(s("http://h.example.com/files/a.tmpx")._1)
    assert(!s("http://h.example.com/dl/v1/x")._1)
    assert(s("http://h.example.com/dl/v1/y")._1)
  }

  test("wildcard Allow beats a shorter literal Disallow; regex specials " +
      "in rule values stay literal octets") {
    val body = "User-agent: *\nDisallow: /private\n" +
      "Allow: /private/*/pub\nDisallow: /a(b)\n"
    val s = screenOf(body, Seq(
      "http://h.example.com/private/x",
      "http://h.example.com/private/u1/pub",
      "http://h.example.com/a(b)/c",   // parens are literal
      "http://h.example.com/ab/c"))    // must NOT match /a(b)
    assert(!s("http://h.example.com/private/x")._1)
    assert(s("http://h.example.com/private/u1/pub")._1)
    assert(!s("http://h.example.com/a(b)/c")._1)
    assert(s("http://h.example.com/ab/c")._1)
  }

  test("specificity counts wildcard octets; Allow wins the exact tie") {
    // "/p*" and "/pq" are both 3 octets: on /pq/x both match → tie →
    // Allow wins; on /pr/x only the wildcard matches → blocked
    val body = "User-agent: *\nDisallow: /p*\nAllow: /pq\n"
    val s = screenOf(body, Seq(
      "http://h.example.com/pq/x",
      "http://h.example.com/pr/x"))
    assert(s("http://h.example.com/pq/x")._1)
    assert(!s("http://h.example.com/pr/x")._1)
  }

  test("'/$' blocks exactly the root and nothing else") {
    val s = screenOf("User-agent: *\nDisallow: /$\n", Seq(
      "http://h.example.com",      // path '/' → blocked
      "http://h.example.com/x"))   // longer → allowed
    assert(!s("http://h.example.com")._1)
    assert(s("http://h.example.com/x")._1)
  }

  test("rules before any User-agent line and empty-value rules are " +
      "no-ops; a host with no rules allows everything") {
    val s = screenOf("Disallow: /\nUser-agent: *\nDisallow:\n", Seq(
      "http://h.example.com/anything",
      "http://other.example.com/x"))
    assert(s.values.forall(_._1))
  }

  test("adjacent User-agent lines share a group; comments strip; " +
      "directives are case-insensitive") {
    val body = "# hi\nUser-agent: fetchbot\nUSER-AGENT: *  # both\n" +
      "DISALLOW: /secret\n"
    val s = screenOf(body, Seq("http://h.example.com/secret/x"))
    assert(!s("http://h.example.com/secret/x")._1)
  }

  test("crawl delay: max across star groups, non-numeric values ignored, " +
      "report defaults absent hosts to 0") {
    val robots = Seq(
      ("a.example.com", "User-agent: *\nCrawl-delay: 3\n\n" +
        "User-agent: *\nCrawl-delay: 7\nCrawl-delay: soon\n"),
      ("b.example.com", "User-agent: *\nDisallow: /x\n")
    ).toDF("host", "body")
    val frontier = Seq("http://a.example.com/p", "http://b.example.com/p")
      .toDF("url")
    val rep = Robots.hostReport(
      Robots.screen(frontier, Robots.parseRules(robots, "host", "body"),
        "url"),
      Robots.crawlDelays(robots, "host", "body"))
      .collect().map(r => r.getAs[String]("host") ->
        (r.getAs[Long]("n_allowed"), r.getAs[Long]("n_blocked"),
          r.getAs[Long]("crawl_delay_s"))).toMap
    assert(rep("a.example.com") == ((1L, 0L, 7L)))
    assert(rep("b.example.com") == ((1L, 0L, 0L)))
  }

  test("root path: a bare host URL screens as path '/'") {
    val s = screenOf("User-agent: *\nDisallow: /\n", Seq(
      "http://h.example.com"))
    assert(!s("http://h.example.com")._1)
  }

  test("sitemaps are group-independent: collected before any group and " +
      "inside skipped named-agent groups; never parsed as rules") {
    val robots = Seq(("h.example.com",
      "Sitemap: http://h.example.com/a.xml\n" +
        "User-agent: fetchbot\nSitemap: http://h.example.com/b.xml\n" +
        "Disallow: /\nUser-agent: *\nAllow: /\n")).toDF("host", "body")
    val sm = Robots.sitemaps(robots, "host", "body")
      .collect().map(_.getAs[String]("sitemap_url")).sorted.toSeq
    assert(sm == Seq("http://h.example.com/a.xml",
      "http://h.example.com/b.xml"))
    // and the sitemap lines did not leak into the rule set
    val rules = Robots.parseRules(robots, "host", "body").collect()
    assert(rules.map(_.getAs[String]("prefix")).toSet == Set("/"))
  }

  test("RFC 9309 §2.2.2 percent-encoding normalization: encoded rules " +
      "match raw UTF-8 paths in any hex case; unreserved escapes decode") {
    val body = "User-agent: *\nDisallow: /caf%C3%A9/\n" +
      "Disallow: /x/priv%c3%a9\nDisallow: /%64ocs\n"
    val s = screenOf(body, Seq(
      "http://h.example.com/café/menu",    // raw é vs %C3%A9 rule
      "http://h.example.com/caf%C3%A9/m",  // encoded path, encoded rule
      "http://h.example.com/caf%c3%a9/m",  // lowercase-hex path
      "http://h.example.com/x/privé1",     // lowercase-hex RULE
      "http://h.example.com/docs/a",       // %64 = 'd' (unreserved)
      "http://h.example.com/cafe/menu"))   // plain ASCII must NOT match
    assert(!s("http://h.example.com/café/menu")._1)
    assert(!s("http://h.example.com/caf%C3%A9/m")._1)
    assert(!s("http://h.example.com/caf%c3%a9/m")._1)
    assert(!s("http://h.example.com/x/privé1")._1)
    assert(!s("http://h.example.com/docs/a")._1)
    assert(s("http://h.example.com/cafe/menu")._1)
  }

  test("specificity is raw OCTET length: a 10-char/11-octet UTF-8 Allow " +
      "ties an 11-char/11-octet encoded Disallow and wins the tie") {
    // char-length semantics would rank the Disallow (11 chars) above the
    // Allow (10 chars) and block the URL — the RFC asks for octets
    val body = "User-agent: *\nDisallow: /caf%C3%A9/\nAllow: /café/okay\n"
    val s = screenOf(body, Seq(
      "http://h.example.com/café/okay1",
      "http://h.example.com/café/other"))
    assert(s("http://h.example.com/café/okay1")._1)
    assert(!s("http://h.example.com/café/other")._1)
  }

  test("wildcards compose with percent normalization: an encoded anchored " +
      "rule blocks raw-UTF-8 paths") {
    val s = screenOf("User-agent: *\nDisallow: /*%C3%A9.log$\n", Seq(
      "http://h.example.com/logs/entré.log",
      "http://h.example.com/logs/entré.log.1", // anchor must not fire
      "http://h.example.com/logs/entre.log"))  // no é → no match
    assert(!s("http://h.example.com/logs/entré.log")._1)
    assert(s("http://h.example.com/logs/entré.log.1")._1)
    assert(s("http://h.example.com/logs/entre.log")._1)
  }

  test("a bare % without two hex digits is a literal octet") {
    val s = screenOf("User-agent: *\nDisallow: /100%zone\n", Seq(
      "http://h.example.com/100%zone/a",
      "http://h.example.com/100zone/a"))
    assert(!s("http://h.example.com/100%zone/a")._1)
    assert(s("http://h.example.com/100zone/a")._1)
  }

  test("fetch schedule: allowed URLs queue per host in URL order with " +
      "delay-spaced offsets; blocked URLs never enter the queue") {
    val robots = Seq(
      ("a.example.com", "User-agent: *\nCrawl-delay: 5\nDisallow: /no\n"),
      ("b.example.com", "User-agent: *\nDisallow: /\n")
    ).toDF("host", "body")
    val frontier = Seq(
      "http://a.example.com/p2", "http://a.example.com/p1",
      "http://a.example.com/no/x", "http://b.example.com/x"
    ).toDF("url")
    val sched = Robots.fetchSchedule(
      Robots.screen(frontier, Robots.parseRules(robots, "host", "body"),
        "url"),
      Robots.crawlDelays(robots, "host", "body"))
      .collect().map(r => r.getAs[String]("url") ->
        ((r.getAs[Long]("fetch_seq"), r.getAs[Long]("offset_s")))).toMap
    assert(sched.size == 2) // /no and all of b.example.com blocked
    assert(sched("http://a.example.com/p1") == ((0L, 0L)))
    assert(sched("http://a.example.com/p2") == ((1L, 5L)))
  }
}
