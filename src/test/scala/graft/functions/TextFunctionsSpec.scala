package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(text).toDF("text")

  test("tokens: empty and blank text yield empty arrays, not [\"\"]") {
    val r = Seq("", "   ", "Hello  World").toDF("text")
      .select(TextFunctions.tokens($"text").as("t")).collect()
    assert(r(0).getSeq[String](0) === Seq.empty)
    assert(r(1).getSeq[String](0) === Seq.empty)
    assert(r(2).getSeq[String](0) === Seq("hello", "world"))
  }

  test("bpeish token count splits letter runs, digit runs, symbols") {
    val r = one("abc123!x y").select(
      TextFunctions.bpeishTokenCount($"text")).collect()(0).getInt(0)
    // abc | 123 | ! | x | y
    assert(r === 5)
  }

  test("wordShingles: short text yields empty, distinct shingles") {
    val df = Seq("a b", "a b c d", "x x x x").toDF("text")
      .select(TextFunctions.wordShingles($"text", 3).as("s")).collect()
    assert(df(0).getSeq[String](0) === Seq.empty)
    assert(df(1).getSeq[String](0) === Seq("a b c", "b c d"))
    assert(df(2).getSeq[String](0) === Seq("x x x")) // deduped
  }

  test("langId picks the best stopword match, und when none") {
    val r = Seq("the cat sat on the mat", "der hund ist nicht zu alt",
      "zzz qqq www").toDF("text")
      .select(TextFunctions.langId($"text")).collect().map(_.getString(0))
    assert(r === Array("en", "de", "und"))
  }

  test("fingerprints: bag is order-insensitive, content is order-sensitive") {
    val df = Seq(("b a", "a b")).toDF("x", "y").select(
      TextFunctions.bagFingerprint($"x").as("bx"),
      TextFunctions.bagFingerprint($"y").as("by"),
      TextFunctions.contentFingerprint($"x").as("cx"),
      TextFunctions.contentFingerprint($"y").as("cy")).collect()(0)
    assert(df.getString(0) === df.getString(1))
    assert(df.getString(2) !== df.getString(3))
  }

  test("quality features: ratios over char length, avg word len") {
    val feats = TextFunctions.qualityFeatures(col("text"))
    val r = one("ab 12").select(feats.map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    assert(r.getLong(0) === 5L)                      // n_chars_q
    assert(r.getLong(1) === 2L)                      // n_tokens
    assert(math.abs(r.getDouble(2) - 0.4) < 1e-9)    // alpha_ratio
    assert(math.abs(r.getDouble(3) - 0.4) < 1e-9)    // digit_ratio
    assert(math.abs(r.getDouble(6) - 2.0) < 1e-9)    // avg_word_len
  }

  test("tokens drop empties for leading tabs/newlines (PropertySpec regression)") {
    val r = Seq("\tword\nmore ").toDF("text")
      .select(TextFunctions.tokens($"text")).collect()(0).getSeq[String](0)
    assert(r === Seq("word", "more"))
  }

  test("rollingHash: deterministic, case-insensitive, order-sensitive, 0 for empty") {
    val r = Seq("abc", "ABC", "acb", "").toDF("text")
      .select(TextFunctions.rollingHash($"text")).collect().map(_.getLong(0))
    assert(r(0) === r(1))       // lowercased
    assert(r(0) !== r(2))       // order matters
    assert(r(3) === 0L)
    // closed form: ((('a'*B)+'b')*B+'c') mod P
    val B = 1000003L; val P = 1000000000000L
    val expect = ((((97L * B + 98L) % P) * B + 99L) % P)
    assert(r(0) === expect)
  }

  test("redactPii: URL/email/IP/phone become placeholders, rule order holds") {
    val r = Seq(
      "visit https://x.example.com/a?b=1 now",
      "mail bob.smith+x@corp.example.org please",
      "server 10.0.255.1 is up",
      "call +1 (555) 123-4567 today",
      "see http://user@host.co/x too",    // URL rule wins over email
      "plain text stays untouched")
      .toDF("text").select(TextFunctions.redactPii($"text"))
      .collect().map(_.getString(0))
    assert(r(0) === "visit <URL> now")
    assert(r(1) === "mail <EMAIL> please")
    assert(r(2) === "server <IP> is up")
    assert(r(3) === "call <PHONE> today")
    assert(r(4) === "see <URL> too")
    assert(r(5) === "plain text stays untouched")
  }

  test("redactPii: Luhn-valid cards redact, card-length order ids stay") {
    val r = Seq(
      "pay with 4532015112830366 now",        // Luhn-valid 16-digit → CARD
      "order 4532015112830367 shipped",       // same length, Luhn-fails
      "amex-style 79927398713 ok",            // Luhn-valid 11-digit: too
                                              // short for a PAN — not a
                                              // candidate, phone rule wins
      "two cards 4532015112830366 and 4111111111111111 found",
      "long run 45320151128303660 keeps going") // 17 digits, Luhn fails
      .toDF("text").select(TextFunctions.redactPii($"text"))
      .collect().map(_.getString(0))
    assert(r(0) === "pay with <CARD> now")
    // a Luhn-FAILING run of card length is an order id — the card rule
    // leaves it and the phone rule (digit-run shaped) picks it up, which
    // is the documented chain order, NOT a <CARD>
    assert(r(1) === "order <PHONE> shipped")
    assert(r(2) === "amex-style <PHONE> ok")
    assert(r(3) === "two cards <CARD> and <CARD> found")
    assert(r(4) === "long run <PHONE> keeps going")
  }

  test("fkGradeUs: hand-checked integer terms, punctuation-less text is " +
      "one sentence, empty text is NULL") {
    val df = Seq(
      "The cat sat. The dog ran!",   // w=6, syl=6 ([e,a,a,e,o,a]), s=2
      "go go go",                    // w=3, syl=3, s=1 (no punctuation)
      "").toDF("text")
    val r = df.select(TextFunctions.fkGradeUs($"text")).collect()
    // 390000*6//2 + 11800000*6//6 - 15590000 = 1170000 + 11800000 - 15590000
    assert(r(0).getLong(0) === 1170000L + 11800000L - 15590000L)
    // 390000*3//1 + 11800000*3//3 - 15590000
    assert(r(1).getLong(0) === 1170000L + 11800000L - 15590000L)
    assert(r(2).isNullAt(0))
  }

  test("entityCounts: independent per-pattern totals and the any-hit " +
      "doc count") {
    val docs = Seq(
      "visit https://x.io and mail a@b.com",
      "server 10.0.0.1 and 10.0.0.2 up",
      "card 4532015112830366 but order 4532015112830367", // 1 Luhn-valid
      "all clean").toDF("text")
    val r = TextFunctions.entityCounts(docs, "text").collect().head
    assert(r.getLong(0) === 4L)  // n_docs
    assert(r.getLong(1) === 1L)  // urls
    assert(r.getLong(2) === 1L)  // emails
    assert(r.getLong(3) === 2L)  // ips
    assert(r.getLong(4) === 1L)  // cards: the Luhn-failing twin is OUT
    assert(r.getLong(5) === 0L)  // ibans: none planted here
    assert(r.getLong(7) === 3L)  // docs with any
  }

  test("entityCounts: mod-97-gated IBAN column counts the valid one only") {
    val docs = Seq(
      "send to GB82WEST12345698765432 today",  // canonical valid IBAN
      "send to GB82WEST12345698765433 today",  // check-digit tamper
      "iban DE89370400440532013000 works").toDF("text")
    val r = TextFunctions.entityCounts(docs, "text").collect().head
    assert(r.getLong(5) === 2L)  // n_ibans
    // the tampered doc still counts under the ANY column: counts are
    // independent per pattern over the RAW text, and its unanchored
    // digit tail is phone-shaped (the redaction chain, not this
    // inventory, is where sequencing applies)
    assert(r.getLong(7) === 3L)
  }

  test("redactPii: mod-97-valid IBANs redact before the card/phone rules " +
      "see their digits; a tampered IBAN falls through to the phone rule") {
    val r = Seq(
      "send to GB82WEST12345698765432 today",
      "send to GB82WEST12345698765433 today",
      "iban DE89370400440532013000 works")
      .toDF("text").select(TextFunctions.redactPii($"text"))
      .collect().map(_.getString(0))
    assert(r(0) === "send to <IBAN> today")
    // the tampered IBAN is NOT redacted as <IBAN>; its unanchored digit
    // tail is phone-shaped, so the chain's last rule picks it up — the
    // documented fall-through, mirroring the Luhn-failing card case
    assert(r(1) === "send to GB82WEST<PHONE> today")
    // an all-digit-tail IBAN: the digits must NOT leak to <CARD> — the
    // IBAN stage runs first by design (DE89... has an 18-digit tail that
    // CardRe alone could clip a 13-19 digit window out of)
    assert(r(2) === "iban <IBAN> works")
  }

  test("blocklistScreen: hit counts include repeats, matched terms are " +
      "distinct and sorted, clean docs drop") {
    val docs = Seq(
      (1L, "Bad BAD thing"),
      (2L, "all clean here"),
      (3L, "worse bad")).toDF("doc_id", "text")
    val out = TextFunctions.blocklistScreen(docs, "doc_id", "text",
        Seq("bad", "worse"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[String](2).toList))).toMap
    assert(out === Map(
      1L -> ((2L, List("bad"))),          // case-folded, repeat counted
      3L -> ((2L, List("bad", "worse"))))) // sorted distinct terms
  }

  test("fertilityByGroup: subwords per word in floor-ppm; wordless group " +
      "reports 0") {
    val df = Seq(
      ("en", "hello world"),        // w=2, subwords: hello, world → 2
      ("en", "can't stop"),         // w=2, subwords: can ' t stop → 4
      ("xx", "")).toDF("lang", "text")
    val m = TextFunctions.fertilityByGroup(df, $"lang", $"text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // en: 6 subwords / 4 words = 1.5 → 1500000 ppm
    assert(m("en") === ((2L, 4L, 6L, 1500000L)))
    assert(m("xx") === ((1L, 0L, 0L, 0L)))
  }

  test("readabilityByGroup: floor-mean of negative grades, min/max, " +
      "token-less docs excluded") {
    val df = Seq(
      ("a", "go. go. go. go. go."),   // w=5, syl=5, s=5: 390000+11800000-15590000 = -3400000
      ("a", "banana banana."),        // w=2, syl=6, s=1: 780000+35400000-15590000 = 20590000
      ("a", "   "),                   // no tokens → dropped
      ("b", "hi")).toDF("src", "text")
    val m = TextFunctions.readabilityByGroup(df, $"src", $"text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val gA1 = -3400000L
    val gA2 = 20590000L
    // floor((-3400000 + 20590000)/2) = floor(8595000) exactly
    assert(m("a") === ((2L, (gA1 + gA2) / 2, gA1, gA2)))
    // "hi": w=1, syl=1, s=1 → 390000 + 11800000 - 15590000
    assert(m("b")._1 === 1L && m("b")._2 === -3400000L)
  }

  test("repetitionReport: top n-gram shares with multiplicity; short " +
      "docs report zero for missing gram sizes") {
    import spark.implicits._
    val docs = Seq(
      // "spam spam spam eggs": uni 4 (top spam 3), bi 3 (top "spam spam"
      // 2), tri 2 (each once)
      (1L, "spam spam spam eggs"),
      (2L, "one two"),   // no trigrams
      (3L, "solo")       // unigram only
    ).toDF("doc_id", "text")
    val m = TextFunctions.repetitionReport(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (
        (r.getAs[Long]("n_unigrams"), r.getAs[Long]("top_unigram_ppm"),
          r.getAs[Long]("n_bigrams"), r.getAs[Long]("top_bigram_ppm"),
          r.getAs[Long]("n_trigrams"), r.getAs[Long]("top_trigram_ppm")))).toMap
    assert(m(1L) === ((4L, 750000L, 3L, 666666L, 2L, 500000L)))
    assert(m(2L) === ((2L, 500000L, 1L, 1000000L, 0L, 0L)))
    assert(m(3L) === ((1L, 1000000L, 0L, 0L, 0L, 0L)))
  }
}
