package graft.functions

import graft.SparkSpec

class CdcSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-text: token i derives from a hash of i, so the
  // stream has enough entropy to place CDC boundaries naturally
  private def tokenStream(n: Int, seed: String = ""): Seq[String] =
    (0 until n).map(i => "w" + ((i * 2654435761L + seed.hashCode) & 0xFFFF))

  test("cdcChunks: chunks reassemble the normalized document") {
    val text = tokenStream(200).mkString(" ")
    val docs = Seq((1L, text), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    assert(d1.length > 3)                       // actually chunked
    assert(d1.mkString(" ") === text)           // lossless partition
    assert(chunks.filter(_._1 == 2L).map(_._3).toSeq === Seq("a b")) // short doc = 1 chunk
    assert(chunks.count(_._1 == 3L) === 0)      // empty doc = no chunks
  }

  test("cdcChunks: an insertion only perturbs chunks local to the edit") {
    val base = tokenStream(400)
    val edited = base.take(17) ++ Seq("INSERTED") ++ base.drop(17)
    val docs = Seq((1L, base.mkString(" ")), (2L, edited.mkString(" ")))
      .toDF("doc_id", "text")
    val fps = Dedup.cdcChunks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(3)))
    val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
    // the fixed-window failure mode would be ~zero overlap after the
    // insertion point; CDC must keep the untouched tail chunks identical
    val shared = (f1 & f2).size.toDouble / f1.size
    assert(shared > 0.6, s"CDC resync failed: only ${f1 & f2} shared")
    assert(f1 != f2)                            // the edit IS visible
  }

  test("cdcDupReport: revisions show high shared_ratio, unique docs zero") {
    val base = tokenStream(300)
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, base.mkString(" ")),                            // exact mirror
      (3L, (base.take(150) ++ tokenStream(150, "v2")).mkString(" ")), // half-revision
      (4L, tokenStream(300, "other").mkString(" ")),       // unrelated
      (5L, "")).toDF("doc_id", "text")
    val r = Dedup.cdcDupReport(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L)._3 === 1.0)                    // every chunk mirrored
    assert(r(2L)._3 === 1.0)
    assert(r(3L)._2 > 0 && r(3L)._3 < 1.0)      // partially shared
    assert(r(4L)._2 === 0L)                     // nothing shared
    assert(r(5L) === ((0L, 0L, 0.0)))           // empty doc reported
  }

  test("cdcChunks: deterministic under repartitioning, Md5Hasher parity shape") {
    val docs = Seq((1L, tokenStream(100).mkString(" "))).toDF("doc_id", "text")
    val a = Dedup.cdcChunks(docs, "doc_id", "text")
      .orderBy("chunk_idx").collect().map(_.getString(2)).toSeq
    val b = Dedup.cdcChunks(docs.repartition(5), "doc_id", "text")
      .orderBy("chunk_idx").collect().map(_.getString(2)).toSeq
    assert(a === b)
    assert(a.mkString(" ") === tokenStream(100).mkString(" "))
  }
}
