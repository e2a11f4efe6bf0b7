package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot-to-snapshot corpus diff — the batch complement of the ETL
  * side's per-index CDC gating (`pipeline/MappingDeps`): given two corpus
  * snapshots, classify every document as added / removed / changed /
  * unchanged by CONTENT (whitespace-normalized md5, the same identity
  * exact dedup uses), so an incremental pipeline re-processes exactly the
  * delta instead of the corpus. A crawl re-fetch that returns byte-
  * different but token-identical text is `unchanged` here — which is the
  * point: downstream features are functions of the normalized tokens.
  *
  * Scale shape: one full-outer equi-join on the document id — fact-to-
  * fact, so it shuffles both sides once on the join key (with id-bucketed
  * snapshot storage the exchange disappears entirely: write snapshots
  * `bucketBy(id)` and the join is zipped partitions). Fingerprints are
  * per-row codegen'd expressions computed in the scan stage; nothing is
  * collected, nothing is quadratic.
  *
  * Output: (idCol, status, old_fp, new_fp) — fps null on the absent side.
  */
object CorpusDelta {

  def snapshotDelta(oldSnap: DataFrame, newSnap: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol),
      TextFunctions.contentFingerprint(col(textCol)).as("old_fp"))
    val n = newSnap.select(col(idCol),
      TextFunctions.contentFingerprint(col(textCol)).as("new_fp"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") === col("new_fp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_fp"), col("new_fp"))
  }

  /** MERGEABLE data-card state — the persistable projection behind the
    * release artifact (`corpus_datacard`), the capstone of the
    * incremental family ([[graft.functions.Dedup.exactGroupsState]] for
    * groups, [[graft.functions.Hll.mergeRegs]] for vocab): three count
    * frames whose every column is a SUM of per-document functions, so
    * the merge is unionByName + re-sum — associative and commutative,
    * state(A) ⊎ state(B) ≡ state(A ∪ B) EXACTLY for any split of the
    * corpus into snapshots. A daily refresh re-scans only the delta;
    * history survives as counts (no text retained).
    *
    *  - `src`:  (source, n_docs, n_tokens, n_kept) — sizes + Gopher gate
    *  - `fp`:   (content_md5, source, n) — exact-dup evidence; dup rates
    *            need per-source counts per fingerprint because a group
    *            split ACROSS snapshots only becomes a duplicate at merge
    *  - `lang`: (source, lang, n) — language histogram for the argmax
    *
    * State size is bounded by distinct (fingerprint, source) pairs —
    * the groups-state scale argument; store all three parquet-bucketed
    * on their keys and the merge exchanges vanish. */
  case class DatacardState(src: DataFrame, fp: DataFrame, lang: DataFrame)

  def datacardState(docs: DataFrame, textCol: String,
                    sourceCol: String): DatacardState = {
    val base = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col(textCol)).cast("long"))
          .as("n_tokens"))
    val keep = TextFunctions.qualityRuleScreen(docs, textCol, sourceCol)
      .select(col(sourceCol).as("source"), col("n_kept"))
    val src = base.join(keep, "source")
    val fp = docs
      .select(col(sourceCol).as("source"),
        TextFunctions.contentFingerprint(col(textCol)).as("content_md5"))
      .groupBy(col("content_md5"), col("source"))
      .agg(count(lit(1)).as("n"))
    val lang = docs
      .select(col(sourceCol).as("source"),
        TextFunctions.langId(col(textCol)).as("lang"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
    DatacardState(src, fp, lang)
  }

  def mergeDatacardState(a: DatacardState, b: DatacardState): DatacardState = {
    def resum(x: DataFrame, y: DataFrame, keys: Seq[String]): DataFrame = {
      val sums = x.columns.filterNot(keys.contains)
        .map(c => sum(col(c)).as(c))
      x.unionByName(y).groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
    }
    DatacardState(
      resum(a.src, b.src, Seq("source")),
      resum(a.fp, b.fp, Seq("content_md5", "source")),
      resum(a.lang, b.lang, Seq("source", "lang")))
  }

  /** DELETE a snapshot from a datacard state — the takedown complement
    * of [[mergeDatacardState]]: every column of all three frames is a
    * SUM of per-document functions, so subtraction is exact for any
    * split — state(A ∪ B) ⊖ state(B) ≡ state(A), frame for frame
    * (`DatacardDeleteSpec` + the oracle pin it). Build `del` with
    * [[datacardState]] over the deleted docs only; rows whose primary
    * count hits zero drop (a source/fingerprint/language wholly removed
    * vanishes from the card, exactly as a rebuild would have it); a
    * count going NEGATIVE fails loudly via the same raise_error guard
    * as the groups-state delete — which catches every never-seen key,
    * but (same caveat as there) NOT a phantom doc whose per-key
    * contributions hide inside still-positive counts; identity is the
    * state's own key space.
    * Same scale shape as the merge: unionByName + re-sum on the state's
    * own keys, no corpus rescans. */
  def deleteDatacardState(a: DatacardState,
                          del: DatacardState): DatacardState = {
    def desum(x: DataFrame, y: DataFrame, keys: Seq[String],
              primary: String): DataFrame = {
      val sumCols = x.columns.filterNot(keys.contains)
      val negated = y.select(
        (keys.map(col) ++ sumCols.map(c => (-col(c)).as(c))): _*)
      val sums = sumCols.map(c => sum(col(c)).as(c))
      x.unionByName(negated)
        .groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
        .select((keys.map(col) ++ sumCols.map { c =>
          when(col(c) < 0, raise_error(concat(
            lit(s"deleteDatacardState: negative $c for "),
            concat_ws("/", keys.map(k => col(k).cast("string")): _*))))
            .otherwise(col(c)).as(c)
        }): _*)
        .filter(col(primary) > 0)
    }
    DatacardState(
      desum(a.src, del.src, Seq("source"), "n_docs"),
      desum(a.fp, del.fp, Seq("content_md5", "source"), "n"),
      desum(a.lang, del.lang, Seq("source", "lang"), "n"))
  }

  /** Assemble the release artifact from a (possibly merged) state —
    * column-identical to the one-shot `corpus_datacard`: a fingerprint
    * group is duplicated when its size summed ACROSS sources and
    * snapshots exceeds 1, the dominant language is the count argmax
    * (ties to the lexicographically first), and every rate is exact
    * floor-ppm integer arithmetic. */
  def datacardFromState(st: DatacardState): DataFrame = {
    val gs = st.fp.groupBy(col("content_md5"))
      .agg(sum(col("n")).as("_gs"))
    val dup = st.fp.join(gs, "content_md5")
      .groupBy(col("source"))
      .agg(sum(when(col("_gs") > 1, col("n")).otherwise(lit(0L))).as("_dup"))
    val lang = st.lang.groupBy(col("source"))
      .agg(min_by(struct(col("lang"), col("n")),
        struct((-col("n")).as("_nc"), col("lang"))).as("_t"))
      .select(col("source"), col("_t").getField("lang").as("top_lang"),
        col("_t").getField("n").as("_lc"))
    st.src.join(dup, "source").join(lang, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        Sampling.intDivExact(col("_dup") * lit(1000000L), col("n_docs"))
          .as("dup_doc_ppm"),
        Sampling.intDivExact(col("n_kept") * lit(1000000L), col("n_docs"))
          .as("gopher_keep_ppm"),
        col("top_lang"),
        Sampling.intDivExact(col("_lc") * lit(1000000L), col("n_docs"))
          .as("top_lang_ppm"))
  }
}
