package graft.functions

import graft.SparkSpec

/** Paragraph-level near-dup: planted shared paragraphs must surface in the
  * per-doc share report and the provenance twin, and the fixed-block
  * fallback must fire on long single-paragraph docs. */
class ParagraphDedupSpec extends SparkSpec {
  import spark.implicits._

  private val boiler =
    "subscribe to our newsletter for updates and exclusive offers today"

  test("blank-line paragraphs: a boilerplate paragraph shared by two docs " +
      "is flagged in both, unique paragraphs are not") {
    val docs = Seq(
      (1L, s"alpha beta gamma\n\n$boiler"),
      (2L, s"delta epsilon zeta\n\n$boiler"),
      (3L, "eta theta iota\n\nkappa lambda mu")
    ).toDF("doc_id", "text")
    val rep = Dedup.paragraphDupReport(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rep.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rep.map(_.getLong(1)).toSeq == Seq(2L, 2L, 2L)) // n_paragraphs
    assert(rep.map(_.getLong(2)).toSeq == Seq(1L, 1L, 0L)) // n_dup
    assert(rep.map(_.getLong(3)).toSeq == Seq(500000L, 500000L, 0L))
  }

  test("provenance: the shared fingerprint reports spread, occurrences " +
      "and the id bracket") {
    val docs = Seq(
      (10L, s"$boiler\n\nunique ten"),
      (20L, s"$boiler\n\n$boiler"), // repeated INSIDE one doc too
      (30L, "all unique thirty")
    ).toDF("doc_id", "text")
    val prov = Dedup.paragraphProvenance(docs, "doc_id", "text").collect()
    assert(prov.length == 1)
    val r = prov.head
    assert(r.getAs[Long]("n_docs") == 2L)
    assert(r.getAs[Long]("n_occurrences") == 3L)
    assert(r.getAs[Long]("first_doc_id") == 10L)
    assert(r.getAs[Long]("last_doc_id") == 20L)
  }

  test("intra-doc repetition alone is NOT cross-doc duplication") {
    val docs = Seq(
      (1L, "again again again\n\nagain again again"),
      (2L, "other words here")
    ).toDF("doc_id", "text")
    val rep = Dedup.paragraphDupReport(docs, "doc_id", "text")
      .filter($"doc_id" === 1L).collect().head
    assert(rep.getAs[Long]("n_dup_paragraphs") == 0L)
    assert(Dedup.paragraphProvenance(docs, "doc_id", "text").count() == 0L)
  }

  test("fixed-block fallback: a single long paragraph splits into " +
      "40-token blocks and aligned blocks match across docs") {
    val forty = (1 to 40).map(i => s"w$i").mkString(" ")
    val tail = "and some different trailing words"
    val docs = Seq(
      (1L, s"$forty $tail"),
      (2L, s"$forty completely different second half of this document")
    ).toDF("doc_id", "text")
    // doc1: blocks [forty, tail-5]; doc2: blocks [forty, 7 tokens]
    val rep = Dedup.paragraphDupReport(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rep.map(_.getAs[Long]("n_paragraphs")).toSeq == Seq(2L, 2L))
    assert(rep.map(_.getAs[Long]("n_dup_paragraphs")).toSeq == Seq(1L, 1L))
  }

  test("empty and whitespace-only docs yield no rows") {
    val docs = Seq((1L, ""), (2L, "   \n\n  "), (3L, "real words"))
      .toDF("doc_id", "text")
    val rep = Dedup.paragraphDupReport(docs, "doc_id", "text")
    assert(rep.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }
}
