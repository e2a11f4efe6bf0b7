package graft.functions

import graft.SparkSpec

/** Crawl-quality rule pack: each rule trips on exactly its planted doc. */
class RuleScreenSpec extends SparkSpec {
  import spark.implicits._

  // 91 words, mean word length ≈ 3.8, ≥2 distinct stopwords — all
  // gopher rules pass
  private val longOk =
    (("the and that with word from they this have more " * 9) + "tail.").trim

  private def screen(docs: Seq[(String, String)]) =
    TextFunctions.qualityRuleScreen(docs.toDF("g", "text"), "text", "g")
      .collect().map(r => r.getString(0) -> r).toMap

  test("a clean doc passes every gopher rule") {
    val r = screen(Seq(("ok", longOk)))("ok")
    assert(r.getLong(1) === 1L)                   // n_docs
    assert((2 to 6).forall(i => r.getLong(i) === 0L)) // gopher rules clean
    assert(r.getLong(10) === 0L)                  // encoding clean
    assert(r.getAs[Long]("n_kept") === 1L)
  }

  test("each planted violation trips exactly its rule") {
    val tooShort = "the a tiny doc."
    val weirdLen = ("xxxxxxxxxxxxxxxxxxxx " * 60) + "the a of." // mean len 20
    val noStop = ("zzz yyy xxx www vvv uuu " * 12) + "qqq." // no stopwords
    val symbols = longOk + (" #" * 30) // symbol ratio > 10%
    val m = screen(Seq(("s1", tooShort), ("s2", weirdLen), ("s3", noStop),
      ("s4", symbols)))
    assert(m("s1").getAs[Long]("r_word_count") === 1L)
    assert(m("s2").getAs[Long]("r_word_len") === 1L)
    assert(m("s3").getAs[Long]("r_stopwords") === 1L)
    assert(m("s4").getAs[Long]("r_symbols") === 1L)
    assert(Seq("s1", "s2", "s3", "s4").forall(
      s => m(s).getAs[Long]("n_kept") === 0L))
  }

  test("c4 and encoding flags report without gating keep") {
    val braced = longOk + " {json}"
    val lorem = longOk + " Lorem Ipsum dolor."
    val moji = longOk + " badbyte � char."
    val m = screen(Seq(("b", braced), ("l", lorem), ("e", moji)))
    assert(m("b").getAs[Long]("r_brace") === 1L)
    assert(m("l").getAs[Long]("r_lorem") === 1L)
    assert(m("e").getAs[Long]("r_encoding") === 1L)
    // none of these flags are in the gopher keep gate
    assert(Seq("b", "l", "e").forall(s => m(s).getAs[Long]("n_kept") === 1L))
  }

  test("sentence rule counts terminal-punctuation runs") {
    val threeSent = longOk + " More words here. And a third one!"
    val m = screen(Seq(("s", threeSent), ("t", longOk)))
    assert(m("s").getAs[Long]("r_sentences") === 0L)
    assert(m("t").getAs[Long]("r_sentences") === 1L) // one sentence only
  }
}
