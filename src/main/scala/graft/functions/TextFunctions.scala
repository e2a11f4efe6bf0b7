package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristic, fingerprinting.
  *
  * Everything is built from codegen'd Catalyst built-ins (no UDFs), so these
  * run inside WholeStageCodegen and scale linearly with input splits — no
  * driver round-trips, no Python workers.
  *
  * Cross-engine determinism note: fingerprints that must be verifiable by an
  * external SQL oracle use `md5` (bit-identical everywhere), as do the
  * MinHash/SimHash kernels (`Dedup.Md5Hasher`).
  */
object TextFunctions {

  /** UAX #15 Unicode normalization via the native codegen'd
    * [[graft.expressions.GraftNormalize]] expression (requires the
    * `GraftExtensions` session extension) — run BEFORE tokenization /
    * fingerprinting on multilingual corpora: composed vs decomposed
    * accents and compatibility forms otherwise make visually-identical
    * text hash, dedup and match differently. NFC is the cross-engine
    * oracle-checkable form (DuckDB `nfc_normalize`); NFD/NFKC/NFKD are
    * spec-verified. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    call_function("graft_normalize", text, lit(form))

  /** Whitespace tokens of the lowercased text, empty tokens dropped.
    * Filtering (not a trim guard) because Spark `trim` strips only spaces —
    * leading tabs/newlines would otherwise yield an empty first token
    * (caught by PropertySpec). Blank text → empty array. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * non-alphanumeric symbols — a cheap proxy for tokenizer load. */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Small multilingual stopword lists for the language-ID heuristic.
    * Public common function words; intentionally tiny — language ID at
    * pipeline scale is a heuristic gate, not a classifier. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "dans", "que"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "un", "una", "por"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "他", "这", "就"))

  /** Per-language stopword-hit score: |tokens ∩ stopwords(lang)| /
    * |tokens|, counting repeats. */
  def stopwordRatio(toks: Column, lang: String = "en"): Column = {
    val sw = array(stopwords(lang).map(lit): _*)
    val hits = size(filter(toks, t => array_contains(sw, t)))
    when(size(toks) === 0, 0.0).otherwise(hits.cast("double") / size(toks))
  }

  /** Language-ID by argmax of stopword-hit counts, deterministic tie-break
    * by language code; "und" when no stopword hits at all.
    *
    * ONE `array_max` over (score, preference, lang) structs — not a
    * reduce-built `when` chain: every `when` level duplicates both operand
    * subtrees, so the chained form re-evaluated each language's
    * tokenize+filter exponentially many times (profiled as the slowest
    * query in the benchmark). The "und" fallback rides in the same array as
    * a (score=0, max-preference) sentinel: it wins ties at zero and loses
    * to any real hit, so the whole pick is a single expression evaluation. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val ordered = stopwords.keys.toSeq.sorted
    val scored = ordered.zipWithIndex.map { case (lang, i) =>
      val sw = array(stopwords(lang).map(lit): _*)
      struct(size(filter(toks, t => array_contains(sw, t))).alias("score"),
        lit(ordered.size - i).alias("pref"),  // earlier lang wins ties
        lit(lang).alias("lang"))
    }
    val und = struct(lit(0).alias("score"), lit(ordered.size + 1).alias("pref"),
      lit("und").alias("lang"))
    array_max(array(und +: scored: _*)).getField("lang")
  }

  /** Intra-document repetition signals (the Gopher quality rules, Rae et
    * al. 2021 §A1.1: documents dominated by one repeated phrase are
    * generator spam / boilerplate even when length and punctuation look
    * fine): for n = 1, 2, 3, the document's n-gram count and the share of
    * it taken by the single most frequent n-gram, in exact floor-ppm.
    * Complements [[qualityFeatures]] (shape signals) and the cross-doc
    * dedup stack (this is WITHIN-doc repetition, which dedup ignores by
    * design).
    *
    * One corpus scan: the three gram sizes explode TAGGED into one frame
    * (multiplicity kept — a repeated phrase must count every time), one
    * groupBy counts (doc, n, gram), one conditional aggregation pivots to
    * the per-doc row. Docs shorter than n tokens report 0 for that n.
    * Output: (idCol, n_unigrams, top_unigram_ppm, n_bigrams,
    * top_bigram_ppm, n_trigrams, top_trigram_ppm). */
  def repetitionReport(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String): org.apache.spark.sql.DataFrame = {
    val tagged = docs
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .select(col(idCol), explode(flatten(array((1 to 3).map(n =>
        transform(tokenNgrams(col("_t"), n),
          g => struct(lit(n).as("n"), g.as("g")))): _*))).as("_x"))
      .select(col(idCol), col("_x.n").as("_n"), col("_x.g").as("_g"))
    val counts = tagged.groupBy(col(idCol), col("_n"), col("_g"))
      .agg(count(lit(1)).as("_c"))
    def tot(n: Int) = sum(when(col("_n") === n, col("_c")))
    def top(n: Int) = max(when(col("_n") === n, col("_c")))
    def ppm(n: Int, name: String) =
      coalesce(expr(s"(_top$n * 1000000L) div _tot$n"), lit(0L)).as(name)
    counts.groupBy(col(idCol))
      .agg(tot(1).as("_tot1"), top(1).as("_top1"),
        tot(2).as("_tot2"), top(2).as("_top2"),
        tot(3).as("_tot3"), top(3).as("_top3"))
      .select(col(idCol),
        coalesce(col("_tot1"), lit(0L)).as("n_unigrams"),
        ppm(1, "top_unigram_ppm"),
        coalesce(col("_tot2"), lit(0L)).as("n_bigrams"),
        ppm(2, "top_bigram_ppm"),
        coalesce(col("_tot3"), lit(0L)).as("n_trigrams"),
        ppm(3, "top_trigram_ppm"))
  }

  /** Quality-score feature columns (length, alpha/punct/space ratios,
    * word stats). Compose into a gate like
    * `quality.filter($"alpha_ratio" > 0.8 && $"n_tokens" > 50)`. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val n = length(text)
    val toks = tokens(text)
    val safeN = when(n === 0, 1).otherwise(n).cast("double")
    Seq(
      "n_chars_q"    -> n.cast("long"),
      "n_tokens"     -> size(toks).cast("long"),
      "alpha_ratio"  -> (length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / safeN),
      "digit_ratio"  -> (length(regexp_replace(text, "[^0-9]", "")).cast("double") / safeN),
      "punct_ratio"  -> (length(regexp_replace(text, "[^.,;:!?'\"()-]", "")).cast("double") / safeN),
      "space_ratio"  -> (length(regexp_replace(text, "[^ ]", "")).cast("double") / safeN),
      "avg_word_len" -> when(size(toks) === 0, 0.0)
        .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks)),
      "stopword_ratio_en" -> stopwordRatio(toks, "en"))
  }

  /** Order-insensitive document fingerprint: md5 of the sorted distinct
    * token bag. md5 (not xxhash64) so any SQL engine can recompute it. */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Content fingerprint for exact dedup: md5 of the
    * whitespace-normalized text. */
  def contentFingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** Aggressive-normalization fingerprint: lowercase, strip everything
    * that is not `[a-z0-9]` or whitespace, re-tokenize, md5. Catches the
    * trivial variants plain exact dedup misses (punctuation edits,
    * quote/dash substitutions, "Hello, World!" vs "hello world") while
    * staying a pure per-row codegen'd expression. The regex is
    * RE2-compatible so an external SQL oracle applies the SAME transform. */
  def normalizedFingerprint(text: Column): Column =
    md5(concat_ws(" ",
      filter(split(regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+"),
        t => length(t) > 0)))

  /** Flesch–Kincaid-style readability grade in exact integer micro-units
    * (Kincaid et al. 1975: 0.39·(words/sentence) + 11.8·(syllables/word)
    * − 15.59): syllables approximated as maximal vowel runs, sentences as
    * `[.!?]+` runs floored at 1 (a fragment with no terminal punctuation
    * is one sentence). Each ratio is its own integer floor division —
    * exact and engine-identical, no fp composition to drift. NULL when
    * the text has no tokens. All regexes are RE2-compatible so a SQL
    * oracle applies the same counting. */
  def fkGradeUs(text: Column): Column = {
    val w = tokenCount(text).cast("long")
    val syl = size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
      .cast("long")
    val s = greatest(
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L))
    when(w === 0, lit(null).cast("long")).otherwise(
      Sampling.intDiv(lit(390000L) * w, s) +
        Sampling.intDiv(lit(11800000L) * syl, w) - lit(15590000L))
  }

  /** Blocklist screen: docs containing ANY of the given terms, with the
    * total hit count and the sorted distinct matched terms — the content
    * gate every crawl pipeline runs (slurs, spam markers, boilerplate
    * sentinels). The list rides as an array literal inside one codegen'd
    * filter expression — a few thousand terms is fine; past that switch
    * the list to a broadcast join on the token explode. Clean docs are
    * dropped (the report is the violation list, corpus-size-independent
    * for a healthy corpus). */
  def blocklistScreen(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String,
                      terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val bl = array(terms.map(lit): _*)
    val toks = tokens(col(textCol))
    docs.select(col(idCol),
        size(filter(toks, t => array_contains(bl, t))).cast("long")
          .as("n_hits"),
        array_sort(array_intersect(array_distinct(toks), bl))
          .as("matched_terms"))
      .filter(col("n_hits") > 0)
  }

  /** Tokenizer-fertility report per group (usually language): subword
    * pieces per whitespace word in exact floor-ppm — the multilingual
    * budgeting metric (a language at 3× fertility pays 3× the context
    * window per word; mixtures weighted by raw token counts silently
    * under-serve it). Subwords = the BPE-ish proxy count; both counts are
    * per-row codegen'd regexes, the rollup is one hash aggregate. */
  def fertilityByGroup(docs: org.apache.spark.sql.DataFrame,
                       group: Column, text: Column): org.apache.spark.sql.DataFrame =
    docs.select(group.as("grp"), tokenCount(text).cast("long").as("_w"),
        bpeishTokenCount(text).cast("long").as("_b"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_w")).as("n_words"),
        sum(col("_b")).as("n_subwords"),
        when(sum(col("_w")) > 0,
          Sampling.intDiv(sum(col("_b").cast("decimal(38,0)")) * lit(1000000L),
            sum(col("_w").cast("decimal(38,0)"))))
          .otherwise(lit(0L)).as("fertility_ppm"))

  /** Per-group readability rollup: doc count, floor-mean and min/max of
    * [[fkGradeUs]] — the quality-gate input ("drop sources reading like
    * word salad"). Mean is an exact floor division of the DECIMAL sum
    * (grades can be negative → the same pmod-floor both engines share).
    * One scan, one hash aggregate; output is |groups| rows. */
  def readabilityByGroup(docs: org.apache.spark.sql.DataFrame,
                         group: Column, text: Column): org.apache.spark.sql.DataFrame = {
    val g = docs.select(group.as("grp"), fkGradeUs(text).as("_gus"))
      .filter(col("_gus").isNotNull)
    g.groupBy(col("grp")).agg(
      count(lit(1)).as("n_docs"),
      Sampling.intDiv(sum(col("_gus").cast("decimal(38,0)")),
        count(lit(1)).cast("decimal(38,0)")).as("mean_fk_us"),
      min(col("_gus")).as("min_fk_us"),
      max(col("_gus")).as("max_fk_us"))
  }

  /** PII redaction for training corpora: URLs, emails, IPv4 addresses,
    * Luhn-valid payment-card numbers and phone-shaped digit runs become
    * typed placeholder tokens. A chain of codegen'd `regexp_replace`s
    * (replace-all), applied in an order that prevents one rule from
    * eating another's match (URLs may contain `user@host`, phone-shaped
    * runs would match the digits of an IP, and the card rule must see
    * digit runs BEFORE the phone rule consumes them). Patterns are
    * RE2-compatible, so the DuckDB oracle runs the SAME regexes with the
    * 'g' flag.
    *
    * The `<CARD>` class is the one rule a regex alone cannot express:
    * candidate runs are 13–19 digit words ([[CardRe]] — ISO/IEC 7812 PAN
    * lengths), but only runs passing the [[luhnValid]] mod-10 check
    * redact — an order id or timestamp of card-like length stays intact
    * (the dominant false-positive class of length-based card redaction).
    * Spelled as extract-candidates → Luhn-filter → fold of per-run
    * boundary-anchored replaces (all codegen'd array/HOF expressions, no
    * UDF; runs are all-digits so they need no regex escaping, and the
    * \b anchors keep a run embedded in a LONGER digit run — not a
    * candidate itself — from being clipped out of its middle). */
  val UrlRe = "https?://[^\\s]+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IpRe = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  val IbanRe = "\\b[A-Z]{2}\\d{2}[A-Z0-9]{11,30}\\b"
  val CardRe = "\\b\\d{13,19}\\b"
  val PhoneRe = "\\+?\\d[\\d \\t().-]{7,}\\d"

  def redactPii(text: Column): Column = {
    val url = regexp_replace(text, UrlRe, "<URL>")
    val email = regexp_replace(url, EmailRe, "<EMAIL>")
    val ip = regexp_replace(email, IpRe, "<IP>")
    // <IBAN> before <CARD>: an IBAN's digit tail is card-length, so the
    // card rule must never see a validated IBAN's digits — same
    // sequencing argument as card-before-phone. Candidates are
    // alphanumeric, so the anchored replaces need no regex escaping.
    val ibans = filter(
      array_distinct(regexp_extract_all(ip, lit(IbanRe), lit(0))),
      c => ibanValid(c))
    val ibanned = aggregate(ibans, ip, (acc, r) =>
      regexp_replace(acc, concat(lit("\\b"), r, lit("\\b")), lit("<IBAN>")))
    val cards = filter(
      array_distinct(regexp_extract_all(ibanned, lit(CardRe), lit(0))),
      c => luhnValid(c))
    val carded = aggregate(cards, ibanned, (acc, r) =>
      regexp_replace(acc, concat(lit("\\b"), r, lit("\\b")), lit("<CARD>")))
    regexp_replace(carded, PhoneRe, "<PHONE>")
  }

  /** ISO 13616 / ECBS mod-97 remainder of an IBAN candidate: the first
    * four chars (country + check digits) move to the END, letters expand
    * to two digits (A=10 … Z=35), and the remainder of the resulting
    * number mod 97 must be 1. Computed as the standard streaming fold —
    * digits shift the accumulator one decimal place, letters two, mod
    * after every step keeps it < 9700 (no overflow, no bignum) — one
    * `aggregate` HOF over character positions, no UDF, same shape as
    * [[luhnSum]]. Input must match [[IbanRe]] (uppercase alphanumeric);
    * the caller extracts candidates. */
  def ibanMod97(s: Column): Column = {
    val re = concat(substring(s, 5, 1000000), substring(s, 1, 4))
    aggregate(
      split(re, ""),
      lit(0), (acc, ch) => {
        val a = ascii(ch)
        when(a >= 65, (acc * 100 + (a - 55)) % 97)
          .otherwise((acc * 10 + (a - 48)) % 97)
      })
  }

  /** True iff the candidate passes the IBAN mod-97 check (remainder 1).
    * ~1% of random well-formed strings pass — the same
    * checksum-over-length screen [[luhnValid]] gives cards. */
  def ibanValid(s: Column): Column = ibanMod97(s) === 1

  /** Luhn checksum (ISO/IEC 7812 mod-10) over a digit string — the
    * validity screen that separates REAL payment-card-like numbers from
    * arbitrary digit runs, cutting the dominant false-positive class of
    * length-based card redaction (order ids, timestamps, EAN barcodes
    * fail it; ~10% of random runs pass, vs 100% flagged by length
    * alone). Spelled as one `aggregate` HOF over character positions of
    * the REVERSED string (no UDF): doubling applies at even 1-based
    * positions from the right, digits > 9 after doubling fold back by
    * −9. The SQL twin is the identical list_transform/list_sum tree.
    * Input must be all digits — the caller extracts candidate runs. */
  def luhnSum(digits: Column): Column =
    aggregate(
      transform(split(reverse(digits), ""), (ch, i) => {
        val d = ch.cast("int")
        // i is 0-based; doubling applies at even 1-based positions
        when((i + 1) % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
          .otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)

  /** True iff `digits` passes the Luhn check. */
  def luhnValid(digits: Column): Column = luhnSum(digits) % 10 === 0

  /** The check digit that makes `base || digit` Luhn-valid — the
    * standard (10 − S(base·10) mod 10) mod 10 construction (appending a
    * digit shifts every base position's parity by one, which S(base||'0')
    * accounts for exactly). */
  def luhnCheckDigit(base: Column): Column =
    (lit(10) - luhnSum(concat(base, lit("0"))) % 10) % 10

  /** Corpus-level PII/entity INVENTORY — the audit that decides whether
    * the redaction pass is worth scheduling at all, and the before/after
    * comparison once it runs. One row: per-pattern total match counts and
    * how many docs contain any. Counts are INDEPENDENT per pattern
    * (unlike [[redactPii]]'s sequential chain, a URL containing an email
    * counts under both — documented, and mirrored by the oracle). One
    * scan, one aggregate; all four regexes are the shared RE2-compatible
    * constants. */
  def entityCounts(docs: org.apache.spark.sql.DataFrame,
                   textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val perDoc = docs.select(
      regexp_count(t, lit(UrlRe)).cast("long").as("_u"),
      regexp_count(t, lit(EmailRe)).cast("long").as("_e"),
      regexp_count(t, lit(IpRe)).cast("long").as("_i"),
      // the card count is Luhn-GATED like redactPii's <CARD> rule (a
      // card-length run failing mod-10 is an order id, not an entity);
      // counted with multiplicity over the raw text like the others
      size(filter(regexp_extract_all(t, lit(CardRe), lit(0)),
        c => luhnValid(c))).cast("long").as("_c"),
      // mod-97-GATED like the <IBAN> rule, counted with multiplicity
      // over the raw text like the card count
      size(filter(regexp_extract_all(t, lit(IbanRe), lit(0)),
        c => ibanValid(c))).cast("long").as("_b"),
      regexp_count(t, lit(PhoneRe)).cast("long").as("_p"))
    perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("_u")).as("n_urls"),
      sum(col("_e")).as("n_emails"),
      sum(col("_i")).as("n_ips"),
      sum(col("_c")).as("n_cards"),
      sum(col("_b")).as("n_ibans"),
      sum(col("_p")).as("n_phones"),
      count(when(col("_u") + col("_e") + col("_i") + col("_c") +
        col("_b") + col("_p") > 0, 1)).as("n_docs_with_any"))
  }

  /** [[luhnSum]] as DuckDB SQL over an all-digits expression `x` — the
    * identical reversed-position doubling fold, list ops instead of the
    * Spark HOFs. Shared by the redaction twin below and the standalone
    * Luhn-screen oracle so the two folds cannot drift. */
  def luhnSumSql(x: String): String =
    s"list_sum(list_transform(range(1, length($x) + 1), i -> " +
      s"CASE WHEN i % 2 = 0 THEN " +
      s"(CASE WHEN 2 * (substring(reverse($x), i, 1)::INT) > 9 " +
      s"THEN 2 * (substring(reverse($x), i, 1)::INT) - 9 " +
      s"ELSE 2 * (substring(reverse($x), i, 1)::INT) END) " +
      s"ELSE substring(reverse($x), i, 1)::INT END))"

  /** [[ibanMod97]] as DuckDB SQL over an [[IbanRe]]-shaped expression
    * `x` — the identical rearrange-then-fold, `list_reduce` over
    * character positions with the seed prepended (the [[redactPiiSql]]
    * fold convention). Shared by the redaction twin and the inventory
    * oracle so the folds cannot drift. */
  def ibanMod97Sql(x: String): String = {
    val re = s"(substring($x, 5) || substring($x, 1, 4))"
    s"list_reduce(list_prepend(0, range(1, length($re) + 1)), " +
      s"(acc, i) -> CASE WHEN ascii(substring($re, i, 1)) >= 65 " +
      s"THEN (acc * 100 + ascii(substring($re, i, 1)) - 55) % 97 " +
      s"ELSE (acc * 10 + ascii(substring($re, i, 1)) - 48) % 97 END)"
  }

  /** The identical redaction as DuckDB SQL over column `text` — kept next
    * to the Spark form so the two rule chains cannot drift. The `<IBAN>`
    * and `<CARD>` stages are the same extract → checksum-filter → left
    * fold of anchored replaces (`list_reduce` with the text prepended as
    * the accumulator's seed — a one-element list reduces to the seed, so
    * a match-free doc passes through untouched, like Spark's `aggregate`
    * over an empty array). */
  val redactPiiSql: String = {
    val ip =
      "regexp_replace(regexp_replace(regexp_replace(text, " +
        "'https?://[^\\s]+', '<URL>', 'g'), " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g')"
    val ibanned =
      s"list_reduce(list_prepend($ip, " +
        s"list_filter(list_distinct(regexp_extract_all($ip, " +
        s"'\\b[A-Z]{2}\\d{2}[A-Z0-9]{11,30}\\b')), " +
        s"c -> ${ibanMod97Sql("c")} = 1)), " +
        "(acc, r) -> regexp_replace(acc, '\\b' || r || '\\b', '<IBAN>', 'g'))"
    val carded =
      s"list_reduce(list_prepend($ibanned, " +
        s"list_filter(list_distinct(regexp_extract_all($ibanned, '\\b\\d{13,19}\\b')), " +
        s"c -> ${luhnSumSql("c")} % 10 = 0)), " +
        "(acc, r) -> regexp_replace(acc, '\\b' || r || '\\b', '<CARD>', 'g'))"
    s"regexp_replace($carded, '\\+?\\d[\\d \\t().-]{7,}\\d', '<PHONE>', 'g')"
  }

  /** Rolling (Rabin–Karp) fingerprint over the lowercased text:
    * acc = (acc * B + code) mod P. B and P are sized so acc*B+code stays
    * under Long.MaxValue — ANSI mode forbids wrapping overflow, so the
    * modulus IS the hash space.
    *
    * Unit caveat: Spark's `split(text, '')` + `ascii` walk UTF-16 CODE
    * UNITS, while DuckDB's `string_split` + `unicode` walk CODE POINTS —
    * identical for Basic-Multilingual-Plane text, divergent for
    * supplementary-plane characters (emoji, rare CJK). The cross-engine
    * recomputability claim (DuckDB `list_reduce(list_transform(...))`, a
    * left fold from the first element equals this fold from 0) is therefore
    * scoped to BMP-only text; the fingerprint itself is deterministic for
    * any input. */
  def rollingHash(text: Column): Column = {
    val B = 1000003L
    val P = 1000000000000L // 1e12: P*B + maxCodePoint < 2^63
    when(length(text) === 0, 0L).otherwise(
      aggregate(split(lower(text), ""), lit(0L),
        (acc, c) => pmod(acc * B + ascii(c), lit(P))))
  }

  /** n-gram shingles of an element array via zip-concatenation of shifted
    * copies of the array. NOT `transform(sequence(...), i => slice(arr, i,
    * n))`: an outer-scope array referenced inside a lambda is re-evaluated
    * per element, which turns shingling into O(len²) re-tokenization per
    * document. Here each shifted copy is evaluated once per row — O(n·len).
    * Trailing zip positions pair with null padding, null out through
    * `concat`, and are filtered. */
  private def shinglesOf(arr: Column, n: Int, sep: String): Column =
    array_distinct(allShinglesOf(arr, n, sep))

  private def allShinglesOf(arr: Column, n: Int, sep: String): Column = {
    val joined = (1 until n).foldLeft(arr) { (acc, j) =>
      zip_with(acc, slice(arr, lit(j + 1), size(arr)),
        (a, b) => concat(a, lit(sep), b))
    }
    filter(joined, x => x.isNotNull)
  }

  /** Word n-gram shingles (distinct, for Jaccard / MinHash). Dispatches
    * to the native `graft_shingles` expression — one compiled pass per
    * row; the composed HOF chain above profiled as the hottest CPU
    * kernel of the bench (~55 s of task CPU inside one sf0.1 minhash
    * query), dominated by per-element interpreted lambda evaluation.
    * `ShinglesExprSpec` pins value equality against the composed form. */
  def wordShingles(text: Column, n: Int): Column =
    call_function("graft_shingles", text, lit(n), lit(true))

  /** Word n-grams WITH multiplicity, in order — the repetition-analysis
    * input (a doc repeating one phrase must count it every time). Native
    * kernel, same twin contract as [[wordShingles]]. */
  def wordNgrams(text: Column, n: Int): Column =
    call_function("graft_shingles", text, lit(n), lit(false))

  /** The composed-HOF twins of [[wordShingles]]/[[wordNgrams]] — kept as
    * the executable SEMANTIC SPEC of the native kernel (ShinglesExprSpec
    * asserts value equality on randomized unicode corpora). */
  private[graft] def wordShinglesComposed(text: Column, n: Int): Column =
    shinglesOf(tokens(text), n, " ")
  private[graft] def wordNgramsComposed(text: Column, n: Int): Column =
    allShinglesOf(tokens(text), n, " ")

  /** Same, over an already-materialized token array — for callers that
    * need windows and tokens CONSISTENT (e.g. span stripping keys windows
    * back to token positions) without re-tokenizing. Window i covers
    * tokens [i, i+n) of the input array. */
  def tokenNgrams(toks: Column, n: Int): Column =
    allShinglesOf(toks, n, " ")

  /** Overlapping fixed-size token windows — context-window chunking for
    * training: window i covers tokens [i*stride, i*stride + size), the
    * last window may run short, zero-token docs yield no chunks.
    * `toks` should be a MATERIALIZED column (select `tokens(text)` first):
    * HOF lambdas re-evaluate outer-scope expressions per element, so an
    * inline `tokens(...)` would re-tokenize once per chunk. */
  def chunkTokens(toks: Column, size: Int, stride: Int): Column = {
    // stride beyond size would silently skip tokens between windows
    require(stride >= 1 && stride <= size,
      s"chunk stride must be in [1, size]; got stride=$stride size=$size")
    val n = org.apache.spark.sql.functions.size(toks)
    // CEIL, not floor: a final partial stride still needs its own window,
    // or the doc tail past the last full stride is dropped (caught by the
    // chunking-invariants property test)
    val chunks = lit(1) +
      ceil(greatest(n - size, lit(0)).cast("double") / stride).cast("int")
    when(n === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), chunks - 1),
        i => array_join(slice(toks, i * stride + 1, lit(size)), " ")))
  }

  // ---- public crawl-quality rule pack -----------------------------------
  // Gopher (Rae et al. 2021, Table A1) + C4 (Raffel et al. 2020, §2.2) +
  // encoding hygiene, as integer/boolean predicates both engines share.
  val RuleWcLo = 50L          // Gopher: 50 ≤ words ≤ 100 000
  val RuleWcHi = 100000L
  val RuleWlLoUs = 3000000L   // Gopher: mean word length in [3, 10] chars
  val RuleWlHiUs = 10000000L
  val RuleMinStop = 2         // Gopher: ≥ 2 distinct English stopwords
  val RuleAlphaMinPpm = 800000L // Gopher: ≥ 80% words contain a letter
  val RuleSymMaxPpm = 100000L // Gopher: '#'/'…' symbols ≤ 10% of words
  val RuleMinSent = 3         // C4: ≥ 3 sentences

  /** Per-group crawl-quality rule report: one scan, one |groups|-sized
    * aggregate; each `r_*` column counts docs violating that rule and
    * `n_kept` counts docs passing every GOPHER rule (the C4 flags are
    * line-granular screens in the original recipe, so they are reported
    * but do not gate keep — documented divergence). The encoding rule
    * flags U+FFFD replacement chars and C0 controls (tab/newlines
    * excluded). */
  def qualityRuleScreen(docs: org.apache.spark.sql.DataFrame,
                        textCol: String,
                        groupCol: String): org.apache.spark.sql.DataFrame = {
    val sw = array(stopwords("en").map(lit): _*)
    val base = docs.select(col(groupCol), col(textCol).as("_t"),
        tokens(col(textCol)).as("_toks"))
      .select(col(groupCol), col("_t"), col("_toks"),
        size(col("_toks")).cast("long").as("_nw"))
    val nwSafe = greatest(col("_nw"), lit(1L))
    val meanLenUs = Sampling.intDiv(
      aggregate(col("_toks"), lit(0L), (a, t) => a + length(t)) *
        lit(1000000L), nwSafe)
    val nStop = size(array_intersect(array_distinct(col("_toks")), sw))
    val alphaPpm = Sampling.intDiv(
      size(filter(col("_toks"), t => t.rlike("[A-Za-z]"))).cast("long") *
        lit(1000000L), nwSafe)
    val nHash = length(col("_t")) - length(replace(col("_t"), lit("#")))
    val nEll = Sampling.intDiv(
      length(col("_t")) - length(replace(col("_t"), lit("..."))), lit(3L))
    val symPpm = Sampling.intDiv((nHash + nEll).cast("long") * lit(1000000L),
      nwSafe)
    val nSent = size(regexp_extract_all(col("_t"), lit("[.!?]+"), lit(0)))
    val fWc = col("_nw") < RuleWcLo || col("_nw") > RuleWcHi
    val fWl = meanLenUs < RuleWlLoUs || meanLenUs > RuleWlHiUs
    val fStop = nStop < RuleMinStop
    val fAlpha = alphaPpm < RuleAlphaMinPpm
    val fSym = symPpm > RuleSymMaxPpm
    val fSent = nSent < RuleMinSent
    val fBrace = col("_t").contains("{") || col("_t").contains("}")
    val fLorem = lower(col("_t")).contains("lorem ipsum")
    val fEnc = col("_t").contains("�") ||
      col("_t").rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    def cnt(f: Column) = sum(when(f, 1L).otherwise(0L))
    base.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        cnt(fWc).as("r_word_count"), cnt(fWl).as("r_word_len"),
        cnt(fStop).as("r_stopwords"), cnt(fAlpha).as("r_alpha"),
        cnt(fSym).as("r_symbols"), cnt(fSent).as("r_sentences"),
        cnt(fBrace).as("r_brace"), cnt(fLorem).as("r_lorem"),
        cnt(fEnc).as("r_encoding"),
        cnt(!fWc && !fWl && !fStop && !fAlpha && !fSym).as("n_kept"))
  }
}
