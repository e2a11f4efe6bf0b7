package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deduplication for large-scale corpora: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (the point of every choice here):
  *   - NOTHING is O(n²) over the corpus. Candidate generation is always an
  *     inverted-index / bucket equi-join (shuffle on a key), which Spark
  *     distributes; only in-bucket pairs are scored.
  *   - signatures/shingles are computed with codegen'd higher-order
  *     functions (`transform`/`aggregate`/`filter`) — per-row, no UDF.
  *   - hot buckets (skew) are capped: a bucket with B docs yields B²/2
  *     pairs, so buckets larger than `maxBucket`/`maxPosting` are dropped
  *     entirely — the standard near-dup-at-scale guard (such mega-buckets
  *     are boilerplate/templates that exact-dedup or quality filters
  *     handle). The cap is part of the declared semantics: oracles mirror
  *     it, so a capped run is still deterministic and verifiable.
  */
object Dedup {

  /** The hash family behind every signature/fingerprint kernel: 60-bit
    * md5-prefix longs — the cross-engine trick `Sampling.stableBucket`
    * already uses — so a differential oracle in another SQL engine
    * (DuckDB has no xxhash64) recomputes bit-identical signatures. */
  object Md5Hasher {
    /** 60-bit long from the md5 hex prefix: (hex[0,7) << 32) | hex[8,16).
      * The 7-hex-char high half keeps every intermediate under 2^60, so
      * neither ANSI Spark nor BIGINT engines can overflow. SQL twin:
      * `(('0x'||substring(md5(s),1,7))::BIGINT << 32) |
      *  ('0x'||substring(md5(s),9,8))::BIGINT`. Always non-negative.
      * Dispatches to the native `graft_md5long` expression — straight
      * from digest bytes with a per-thread MessageDigest, where the
      * composed form paid a per-row MessageDigest allocation + hex
      * string + substring + base-16 parse (`Md5LongExprSpec` pins value
      * equality against the composed built-ins). */
    private def md5Long(s: Column): Column =
      call_function("graft_md5long", s)

    /** The composed-builtin twin — the executable spec the native
      * kernel is pinned against. */
    private[graft] def md5LongComposed(s: Column): Column =
      shiftleft(conv(substring(md5(s), 1, 7), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(md5(s), 9, 8), 16, 10).cast("long"))
    /** Multi-arg form concatenates the operands' canonical string forms on
      * U+0001 (both engines render integers identically). */
    def apply(cols: Column*): Column =
      md5Long(if (cols.length == 1) cols.head.cast("string")
              else concat_ws("\u0001", cols: _*))
    def hashArray(arr: Column, salt: Column): Column =
      apply(array_join(transform(arr, _.cast("string")), ","), salt)
    /** Linear-congruential family over the low 32 bits — one md5 per
      * ELEMENT instead of one per (element, function): (a_i·h32 + b_i)
      * mod p, p = 2^31−1. a_i < 2^28 keeps a_i·h32 < 2^60 — no overflow
      * under ANSI or BIGINT. Pure integer arithmetic, so any SQL engine
      * recomputes it exactly; constants derive from i alone. */
    def salted(h: Column, i: Int): Column = {
      val (a, b) = saltConsts(i)
      (lit(a) * h.bitwiseAND(lit(0xFFFFFFFFL)) + lit(b)) % lit(2147483647L)
    }
    /** (a_i, b_i) for function i — also baked into the SQL oracle text. */
    def saltConsts(i: Int): (Long, Long) =
      (((2654435761L * (i + 1)) & 0xFFFFFFFL) | 1L,
        (40503L * (i + 7)) & 0xFFFFFFFL)

    /** Long value of the first `hexChars` md5 hex chars — the native
      * (digest-bytes, per-thread MessageDigest) twin of
      * `conv(substring(md5(s), 1, hexChars), 16, 10)`, value-pinned by
      * `Md5PrefixExprSpec`. hexChars ≤ 15 keeps every value in 60 bits:
      * non-negative, BIGINT-exact in any oracle engine. This is the one
      * entry point for every md5-derived bucket/noise/sample stream
      * (stableBucket, DSIR features, Gumbel/DP noise) — the SQL twins
      * keep spelling the substring form. */
    def prefixLong(s: Column, hexChars: Int): Column =
      call_function("graft_md5prefix", s, lit(hexChars))
  }

  /** Per-call-site cache slots for candidate-index frames, each released
    * on that SITE's next call: a long-lived session running many pipelines
    * holds at most one stale index cache per operator instead of
    * accumulating them until LRU thrash — and building (say) a containment
    * plan no longer evicts a still-unexecuted jaccard plan's cached index
    * (the slots are independent). Within ONE operator, only one candidate
    * index may be in flight at a time: interleaving two un-executed plans
    * from the same call site reverts the first to recompute (safe — Spark
    * recomputes, never corrupts — just slower).
    * (A localCheckpoint would self-release via the ContextCleaner, but it
    * stores row-format blocks — measured ~2× slower on the jaccard path
    * than the columnar cache.) */
  private val idxSlots =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Skew guard behind every candidate join: drop rows whose key-group
    * exceeds `cap`. Implemented as hash-agg for the (by construction tiny —
    * at most total/cap) set of over-cap keys, broadcast anti-joined back.
    * NOT a `count().over(Window)`: the window form shuffles and then SORTS
    * the entire exploded index just to count group sizes, which at corpus
    * scale is the single most expensive node in the plan. */
  /** Persist a multiply-consumed index frame, releasing the PREVIOUS one
    * cached under the same `slot` (per-call-site hygiene: one candidate
    * index in flight per operator — long bench sessions measured
    * multi-fold GC inflation without any release).
    * MEMORY_AND_DISK spills rather than OOMs; same-plan re-runs SHARE one
    * CacheManager entry, so the previous frame only unpersists when its
    * plan genuinely differs. */
  private def persistIdx(slot: String, df: DataFrame): DataFrame = {
    val idx = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = idxSlots.put(slot, idx)
    if (prev != null && (prev ne idx) &&
        !prev.queryExecution.analyzed.sameResult(idx.queryExecution.analyzed))
      prev.unpersist(false)
    idx
  }

  private def capGroups(slot: String, df: DataFrame, keys: Seq[String],
                        cap: Int): DataFrame = {
    // the input is an exploded index over EXPENSIVE per-doc computation
    // (shingling / signature aggregation) and is consumed twice — once for
    // hot-key detection, once for the candidate pass. `slot` names the
    // CALLING operator: a shared helper-level slot would let one
    // operator's plan-build evict another's still-unexecuted cached
    // index (the per-call-site guarantee the docstring above makes)
    val idx = persistIdx(slot, df)
    val hot = idx.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > cap).select(keys.map(col): _*)
    idx.join(broadcast(hot), keys, "left_anti")
  }

  /** Exact dedup groups: hash-groupBy on the normalized-content md5.
    * One shuffle on a 128-bit key; the groups frame is tiny relative to the
    * corpus. `keep_id` = min doc id (deterministic canonical member). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("content_md5", TextFunctions.contentFingerprint(col(textCol)))
      .groupBy(col("content_md5"))
      .agg(
        min(col(idCol)).alias("keep_id"),
        count(lit(1)).alias("group_size"),
        array_sort(collect_list(col(idCol))).alias("member_ids"))

  /** SCALABLE exact-group STATE — the persistable projection of
    * [[exactGroups]]: (content_md5, keep_id, group_size), no member
    * arrays (an array-free state row per group is what survives 100 TB;
    * membership stays derivable by re-fingerprinting any doc against
    * the state). This is the artifact the incremental path stores
    * between runs ([[mergeGroupsState]]; parquet via plain write/read). */
  def exactGroupsState(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    docs
      .withColumn("content_md5", TextFunctions.contentFingerprint(col(textCol)))
      .groupBy(col("content_md5"))
      .agg(min(col(idCol)).alias("keep_id"),
        count(lit(1)).alias("group_size"))

  /** Merge two exact-group states — the incremental-dedup append path:
    * fingerprint ONLY the new snapshot ([[exactGroupsState]]) and merge
    * into the stored state, never rescanning history. Because the group
    * key is a pure row function and (min, sum) are associative and
    * commutative, append ∪ ≡ rebuild EXACTLY (not approximately — the
    * spec asserts frame equality), for any split of the corpus into
    * snapshots. One full-outer equi-join on the 128-bit key; with both
    * states stored bucketed by content_md5 the scans report the join
    * key's partitioning and the exchange disappears entirely. */
  def mergeGroupsState(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("content_md5"), col("keep_id").as("_ka"),
      col("group_size").as("_sa"))
    val r = b.select(col("content_md5"), col("keep_id").as("_kb"),
      col("group_size").as("_sb"))
    l.join(r, Seq("content_md5"), "full_outer")
      .select(col("content_md5"),
        least(col("_ka"), col("_kb")).as("keep_id"), // least skips nulls
        (coalesce(col("_sa"), lit(0L)) + coalesce(col("_sb"), lit(0L)))
          .as("group_size"))
  }

  /** DELETE docs from a persisted exact-group state — the GDPR/DMCA
    * takedown complement of [[mergeGroupsState]]'s append: subtract the
    * deleted snapshot's per-fingerprint counts, drop groups that hit
    * zero, and REPAIR `keep_id` where the canonical member itself was
    * deleted. Because `group_size` is a sum of per-doc indicators the
    * subtraction is exact — state ⊖ delta ≡ rebuild-without-docs, frame
    * for frame (the oracle and `GroupsDeleteSpec` both pin it).
    *
    * `keep_id` is a MIN, not a sum — deleting the minimum cannot be
    * undone from the array-free state alone, so the repair consults
    * `survivors` (the remaining corpus), but ONLY for the fingerprints
    * whose keep died: the repair frame is |affected groups|-sized and
    * broadcasts into a semi-join against the survivor scan. At 100 TB
    * that is one filtered pass over the corpus — and with the corpus
    * stored bucketed/partitioned by content_md5 it prunes to the
    * affected buckets only. Deleting docs that were
    * never ingested is a caller error; it surfaces as a loud
    * negative-size guard failure whenever a fingerprint's count goes
    * negative — including every fingerprint the state never saw (the
    * full-outer join below). The one UNDETECTABLE input class: a
    * phantom doc whose content collides with an existing group that
    * still has enough counted members — identity here is CONTENT, so
    * such a delete is indistinguishable from a legitimate one and
    * simply decrements the group (callers needing id-level audit keep
    * an id ledger beside the array-free state).
    *
    * HLL-sketch states have NO such delete (register maxes are not
    * subtractable) — rebuild those from per-source snapshots instead;
    * documented in SURVEY §8. */
  def deleteFromGroupsState(state: DataFrame, deleted: DataFrame,
                            idCol: String, textCol: String,
                            survivors: DataFrame): DataFrame = {
    val del = deleted
      .withColumn("content_md5",
        TextFunctions.contentFingerprint(col(textCol)))
      .groupBy(col("content_md5"))
      .agg(count(lit(1)).as("_nd"), min(col(idCol)).as("_kd"))
    // FULL OUTER: a delete fingerprint the state never saw must surface
    // (group_size 0 − n < 0 → the loud guard below), not silently no-op
    val joined = state.join(del, Seq("content_md5"), "full_outer")
      .select(col("content_md5"), col("keep_id"), col("_kd"),
        (coalesce(col("group_size"), lit(0L)) - coalesce(col("_nd"), lit(0L)))
          .as("group_size"))
    // a fingerprint going NEGATIVE means the delete snapshot held docs
    // the state never saw — fail loudly instead of shipping drift.
    // Truncated: both the keep-repair branch and the final join consume
    // this frame, and without the cut the fingerprint aggregations and
    // the full-outer join would execute once per consumer
    val guarded = Frames.truncate(joined.select(col("content_md5"),
      col("keep_id"), col("_kd"),
      when(col("group_size") < 0,
        raise_error(concat(lit("deleteFromGroupsState: negative group "),
          lit("size for "), col("content_md5"))))
        .otherwise(col("group_size")).as("group_size"))
      .filter(col("group_size") > 0))
    // keep repair: only groups whose MIN id was deleted re-min from the
    // survivors (keep_id is the global min, so _kd == keep_id iff the
    // canonical member is in the delete set)
    val needRepair = guarded.filter(col("_kd") === col("keep_id"))
      .select(col("content_md5"))
    val repaired = survivors
      .withColumn("content_md5",
        TextFunctions.contentFingerprint(col(textCol)))
      .join(broadcast(needRepair), Seq("content_md5"), "left_semi")
      .groupBy(col("content_md5"))
      .agg(min(col(idCol)).as("_newKeep"))
    // a repair-needed group whose fingerprint is ABSENT from survivors
    // means the caller's survivor frame is inconsistent with the delete
    // snapshot (group_size stayed positive, so members must exist) —
    // fail loudly, matching the negative-count guard above, instead of
    // silently emitting keep_id = NULL
    guarded.join(repaired, Seq("content_md5"), "left")
      .select(col("content_md5"),
        when(col("_kd") === col("keep_id"),
          when(col("_newKeep").isNull,
            raise_error(concat(
              lit("deleteFromGroupsState: survivors frame is missing the "),
              lit("remaining members of repaired group "),
              col("content_md5"))))
            .otherwise(col("_newKeep")))
          .otherwise(col("keep_id")).as("keep_id"),
        col("group_size"))
  }

  /** Normalization-canonical dedup groups: like [[exactGroups]] but keyed
    * on the aggressive fingerprint (case/punctuation-insensitive — see
    * `TextFunctions.normalizedFingerprint`), reporting per group how many
    * DISTINCT plain exact fingerprints it collapsed (`n_variants`): the
    * delta normalization bought over exact dedup, the number every crawl
    * pipeline wants before deciding whether near-dup passes are worth
    * their cost. Same single-shuffle shape as exactGroups — both md5s are
    * per-row codegen'd expressions, `countDistinct` rides the same hash
    * aggregate (one Expand pass, corpus scanned once). */
  def normalizedGroups(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    docs
      .withColumn("norm_md5",
        TextFunctions.normalizedFingerprint(col(textCol)))
      .withColumn("exact_md5", TextFunctions.contentFingerprint(col(textCol)))
      .groupBy(col("norm_md5"))
      .agg(
        min(col(idCol)).alias("keep_id"),
        count(lit(1)).alias("group_size"),
        countDistinct(col("exact_md5")).alias("n_variants"),
        array_sort(collect_list(col(idCol))).alias("member_ids"))

  /** Exact-dup STORAGE-SAVINGS report — the one-row business case for
    * running dedup at all: how many docs and characters are redundant
    * copies (everything but the kept min-id member of each exact group).
    * The kept member's size comes from `min(struct(id, size))` — the
    * lexicographic struct min is the min-id member, one hash aggregate,
    * no join back. Output: (n_docs, n_redundant_docs, total_chars,
    * redundant_chars, savings_ppm), a single row. */
  def exactDupSavings(docs: DataFrame, idCol: String, textCol: String,
                      sizeCol: String): DataFrame = {
    val perGroup = docs
      .withColumn("_fp", TextFunctions.contentFingerprint(col(textCol)))
      .groupBy(col("_fp"))
      .agg(count(lit(1)).as("_n"),
        sum(col(sizeCol).cast("decimal(38,0)")).as("_chars"),
        min(struct(col(idCol), col(sizeCol).as("_sz"))).getField("_sz")
          .as("_keep_chars"))
    val agg = perGroup.agg(
      sum(col("_n")).as("n_docs"),
      sum(col("_n") - 1).as("n_redundant_docs"),
      sum(col("_chars")).as("_total"),
      sum(col("_chars") - col("_keep_chars").cast("decimal(38,0)"))
        .as("_redundant"))
    agg.select(col("n_docs"), col("n_redundant_docs"),
      col("_total").cast("long").as("total_chars"),
      col("_redundant").cast("long").as("redundant_chars"),
      when(col("_total") > 0,
        Sampling.intDiv(col("_redundant") * lit(1000000L), col("_total")))
        .otherwise(lit(0L)).as("savings_ppm"))
  }

  /** Group-size histogram of the exact-dup groups in log₂ buckets
    * (`len(bin(size))`, the degreeHistogram convention): the shape report
    * that distinguishes "a few mega-templates" from "many small copies"
    * — they need different dedup strategies. Output is
    * corpus-size-independent. */
  def groupSizeHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("_fp", TextFunctions.contentFingerprint(col(textCol)))
      .groupBy(col("_fp")).agg(count(lit(1)).as("_n"))
      .groupBy(length(bin(col("_n"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("_n")).as("n_docs"),
        min(col("_n")).as("min_size"),
        max(col("_n")).as("max_size"))

  /** Canonical-member selection per near-dup group — what a production
    * dedup actually keeps is not the MINIMUM id but the BEST copy: given
    * the component frame from [[componentsFromPairs]] (`id`, `comp`),
    * pick per group the member maximizing `sizeCol` (most content), ties
    * to the smallest id. The argmax is one `max(struct(size, -id))` —
    * a total order inside a single hash aggregate, no window, no
    * sort-within-group; ties can never flap across engines or
    * partitionings. Output: (group_id, group_size, keep_size, keep_id). */
  def canonicalPerGroup(docs: DataFrame, idCol: String, comps: DataFrame,
                        sizeCol: String): DataFrame =
    docs.join(comps, docs(idCol) === comps("id"))
      .groupBy(col("comp").as("group_id"))
      .agg(
        count(lit(1)).as("group_size"),
        max(struct(col(sizeCol).as("sz"), (-col(idCol)).as("negid")))
          .as("_b"))
      .select(col("group_id"), col("group_size"),
        col("_b.sz").as("keep_size"), (-col("_b.negid")).as("keep_id"))

  /** MinHash signatures (id, sig:array<long> of length k) for a corpus.
    *
    * Formulated as explode → hash-once → ONE imperative native aggregate
    * (`graft_minhash`, [[graft.expressions.MinhashAgg]]): each shingle is
    * hashed once, and the aggregate's compiled update loop applies all k
    * salt functions to that long into a single `long[k]` buffer — partial
    * (map-side) aggregation collapses to one 8 KB blob per doc per
    * partition before the shuffle, the shape that survives a 100 TB
    * corpus. The salt family is Md5Hasher's LCG
    * `(a_i·h32 + b_i) mod (2³¹−1)`, reproduced bit-identically inside the
    * aggregate (shared `saltConsts`) and pinned by `MinhashAggSpec`
    * against [[minhashSignaturesComposed]], the k-min-columns frame form
    * kept below as the executable spec.
    *
    * Docs with empty shingle sets produce no row (explode drops them). */
  def minhashSignatures(docs: DataFrame, idCol: String, shingleCol: String,
                        k: Int): DataFrame = {
    val hashed = docs
      .select(col(idCol), explode(col(shingleCol)).as("_sh"))
      .select(col(idCol), Md5Hasher(col("_sh")).as("_h"))
    // ONE imperative aggregate (native graft_minhash), not k min()
    // columns: the 64-function frame plan runs its update outside
    // whole-stage codegen (method-size fallback → 64 interpreted evals
    // per row, profiled ~20 s task CPU at sf0.1) and ships a 64-column
    // buffer; the imperative buffer is one long[k] with a compiled
    // loop. Family bit-pinned against the frame form in
    // MinhashAggSpec; [[minhashSignaturesComposed]] stays as the
    // executable spec.
    hashed.groupBy(col(idCol))
      .agg(call_function("graft_minhash", col("_h"), lit(k)).as("sig"))
  }

  /** The k-min-columns frame formulation — the executable spec
    * [[minhashSignatures]]' native aggregate is pinned against. */
  private[graft] def minhashSignaturesComposed(
      docs: DataFrame, idCol: String, shingleCol: String,
      k: Int): DataFrame = {
    val hashed = docs
      .select(col(idCol), explode(col(shingleCol)).as("_sh"))
      .select(col(idCol), Md5Hasher(col("_sh")).as("_h"))
    val aggs = (0 until k).map(i => min(Md5Hasher.salted(col("_h"), i)).as(s"_m$i"))
    hashed.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** LSH banding: signature of length k = bands * rowsPerBand; band j's key
    * is the hash of its slice. Docs sharing ANY band key are candidates.
    * Returns (id, band, band_key) — one exploded row per band, so candidate
    * generation is a plain equi-join on (band, band_key). */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, rowsPerBand: Int): DataFrame =
    df.select(
        col(idCol),
        posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => Md5Hasher.hashArray(
              slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand)), b)))
          .as(Seq("band", "band_key")))

  /** Per-row MinHash signature — the STATELESS twin of
    * [[minhashSignatures]] for streaming probes: identical salted mins,
    * computed as array HOFs over the doc's own pre-hashed shingle array
    * instead of an explode + groupBy (which would be a stateful streaming
    * aggregation). `hashedShingles` must be a MATERIALIZED column of
    * `Md5Hasher(shingle)` longs (the HOF re-eval trap — passing the raw
    * hash expression would recompute it k times). Callers filter empty
    * shingle sets first (`array_min([])` is null), mirroring the batch
    * path where explode drops them. Interpreted HOF per row — acceptable
    * on an ingest stream's arrival rate; the batch kernel remains the
    * corpus-scale default. */
  def rowMinhashSignature(hashedShingles: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(hashedShingles, h => Md5Hasher.salted(h, i)))): _*)

  /** Per-row LSH band keys of a row signature — [[lshBands]] semantics
    * packaged as an array of (band, band_key) structs so a stream can
    * explode and equi-join them against a static band index. Bit-equal
    * to the batch keys: same slices, same `hashArray(slice, band)`. */
  def rowBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        Md5Hasher.hashArray(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), b)
          .as("band_key")))

  /** In-bucket pair emission: group the (already capped) inverted index
    * into one sorted member list per key — ONE shuffle, no sort-merge
    * self-join — then explode ordered pairs in place: member i pairs with
    * the strictly-later slice, so `id_a < id_b` holds by construction and
    * only B²/2 intermediates materialize per bucket (bounded by the cap). */
  private def bucketPairs(capped: DataFrame, keys: Seq[String],
                          member: Column): DataFrame = {
    val buckets = capped.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(member)).as("_ms"))
    buckets
      .select(posexplode(col("_ms")).as(Seq("_i", "_a")), col("_ms"))
      .select(col("_a"),
        explode(slice(col("_ms"), col("_i") + lit(2), size(col("_ms")))).as("_b"))
  }

  /** Candidate pairs from banded signatures: in-bucket pairs per
    * (band, band_key), id_a < id_b, deduped across bands. Buckets larger
    * than maxBucket are dropped (skew guard). */
  def lshCandidates(banded: DataFrame, idCol: String,
                    maxBucket: Int = 1000): DataFrame =
    bucketPairs(capGroups("lshCandidates", banded,
        Seq("band", "band_key"), maxBucket),
        Seq("band", "band_key"), col(idCol))
      .select(col("_a").as("id_a"), col("_b").as("id_b"))
      .distinct()

  /** INCREMENTAL LSH candidate generation — the append path of the
    * near-dup family (the exact-dup twin is [[mergeGroupsState]]). The
    * banded-signature frame `(id, band, band_key)` IS the persistable
    * near-dup state: band keys are pure per-document functions, so
    * state(A ∪ B) = state(A) ∪ state(B) trivially, and the only
    * non-compositional step is the HOT-BUCKET CAP, which must be taken on
    * the MERGED index — a bucket that crosses `maxBucket` only once both
    * snapshots land must drop everywhere, and one that a snapshot alone
    * would have dropped may legitimately pair below the merged cap. This
    * method therefore re-caps on the union and emits exactly the rebuild's
    * pairs that TOUCH the new snapshot: old×new and new×new, never
    * re-pairing the old corpus against itself (whose pairs the previous
    * run already produced under the same merged-cap rule — cap drift
    * between runs surfaces as pair-set deltas the append run does not
    * re-emit; `LshDeltaSpec` pins the exact partition
    * rebuild ≡ within-old ⊎ append).
    *
    * Scale shape: identical to [[lshCandidates]] — one hash-agg cap pass
    * + one bucket-grouped pair emission over the merged index; the new
    * side is typically ≪ the state, and nothing here is quadratic in the
    * old corpus (the in-bucket emission is bounded by the cap). */
  def lshAppendCandidates(stateOld: DataFrame, bandedNew: DataFrame,
                          idCol: String, maxBucket: Int = 1000): DataFrame = {
    // LAST-WRITE-WINS on id overlap: a re-ingested doc REPLACES its old
    // state rows (anti-join below — the new-id frame is snapshot-sized, so
    // AQE broadcasts it). Without this, the same id sits in a bucket as
    // both an old and a new member: bucketPairs would emit a degenerate
    // (id, id) self-pair and the duplicate rows would count twice toward
    // the hot-bucket cap, dropping buckets a deduplicated index keeps.
    val newIds = bandedNew.select(col(idCol)).distinct()
    val merged = stateOld.join(newIds, Seq(idCol), "left_anti")
      .select(col(idCol), col("band"), col("band_key"),
        lit(false).as("_new"))
      .unionByName(bandedNew.select(col(idCol), col("band"), col("band_key"),
        lit(true).as("_new")))
    // member struct leads with the id, so sort_array's lexicographic order
    // IS id order and bucketPairs' id_a < id_b invariant carries over
    bucketPairs(capGroups("lshAppendCandidates", merged,
        Seq("band", "band_key"), maxBucket),
        Seq("band", "band_key"), struct(col(idCol), col("_new")))
      .filter(col(s"_a._new") || col(s"_b._new"))
      .select(col(s"_a.$idCol").as("id_a"), col(s"_b.$idCol").as("id_b"))
      .distinct()
  }

  /** DELETE docs from the persisted LSH state — the takedown complement
    * of [[lshAppendCandidates]]. Band keys are pure per-document
    * functions, so the surviving state is a plain anti-join on the id;
    * the non-compositional step is again the HOT-BUCKET CAP, now in the
    * OTHER direction: a bucket the full index dropped as over-cap may
    * fall UNDER the cap once the deleted members leave, and the rebuild
    * would then emit its pairs — pairs no previous run ever produced.
    * This method returns exactly those RESURFACED pairs (both members
    * surviving, from buckets crossing over-cap → within-cap), so
    *   pairs(rebuild on remaining) ≡
    *     pairs(previous runs) restricted to remaining ⊎ resurfaced
    * under the same cap rule — `LshDeleteSpec` pins the partition on a
    * planted over-cap bucket, and the caller's own bookkeeping drops
    * previously-emitted pairs that touch a deleted id (a filter, not a
    * recompute).
    *
    * Scale shape: two bucket-size hash aggregates (before/after) + one
    * bucket-grouped pair emission over ONLY the crossing buckets (each
    * within cap by definition — bounded fan-out); nothing rescans the
    * corpus and nothing is quadratic in the state. */
  def lshDeleteCandidates(stateOld: DataFrame, deletedIds: DataFrame,
                          idCol: String,
                          maxBucket: Int = 1000): DataFrame = {
    val before = stateOld.groupBy("band", "band_key")
      .agg(count(lit(1)).as("_nb"))
    val remaining = stateOld.join(deletedIds, Seq(idCol), "left_anti")
    val after = remaining.groupBy("band", "band_key")
      .agg(count(lit(1)).as("_na"))
    // buckets that CROSS the cap downward and still hold a pair
    val crossed = after.join(before, Seq("band", "band_key"))
      .filter(col("_nb") > maxBucket && col("_na") <= maxBucket &&
        col("_na") >= 2)
      .select(col("band"), col("band_key"))
    bucketPairs(
        remaining.join(broadcast(crossed), Seq("band", "band_key"),
          "left_semi"),
        Seq("band", "band_key"), col(idCol))
      .select(col("_a").as("id_a"), col("_b").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard over shingle sets via inverted index (NO cross join):
    * explode distinct shingles, emit in-bucket pairs per shingle, count
    * shared per pair, jaccard = common / (|A| + |B| - common). This is also
    * the verification stage after LSH candidates, and the
    * exact-oracle-checkable variant. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, shingleCol: String,
                        threshold: Double, maxPosting: Int = 1000): DataFrame = {
    val sizes = docs.select(col(idCol).alias("id"), size(col(shingleCol)).alias("n_sh"))
    val posting = capGroups("jaccardPairs",
      docs.select(col(idCol).alias("id"), explode(col(shingleCol)).alias("sh")),
      Seq("sh"), maxPosting)
    val common = bucketPairs(posting, Seq("sh"), col("id"))
      .groupBy(col("_a").alias("id_a"), col("_b").alias("id_b"))
      .agg(count(lit(1)).alias("common"))   // shared-shingle count per pair
    common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).alias("jaccard"))
  }

  /** EXACT Jaccard similarity join via PREFIX FILTERING (the SSJoin /
    * PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08):
    * sort every document's shingles by GLOBAL rarity (document frequency
    * ascending, shingle as tie-break — one total order shared by all
    * docs), and generate candidates only from each document's first
    * n − ⌈t·n⌉ + 1 entries. That prefix is LOSSLESS for Jaccard ≥ t:
    * any qualifying pair must overlap in at least ⌈t·max(|A|,|B|)⌉
    * shingles, so skipping the prefix entirely would require more
    * disjoint tail tokens than the threshold allows — candidate
    * completeness is a theorem, not a recall knob. The differential
    * oracle exploits exactly that: it brute-forces ALL pairs with NO
    * posting cap, so hash-equality certifies the filter dropped nothing.
    *
    * Contrast with [[ngramJaccardPairs]] (inverted index over every
    * shingle + hot-posting cap): the cap bounds worst-case fan-out but
    * sacrifices recall on boilerplate families; prefix filtering instead
    * joins only on each doc's RAREST tokens — short posting lists by
    * construction — and pays one array_intersect verification per
    * surviving candidate. At 100 TB the df frame is a broadcast-sized
    * vocabulary aggregate and every stage is an ordinary equi-join /
    * hash aggregation; no caps to tune, no quadratic hot bucket unless
    * the corpus genuinely is one near-dup family.
    *
    * EXACTNESS CONTRACT (modulo 60-bit hashing): shingles are keyed by
    * their md5-prefix 60-bit longs before any shuffle (the sf10 volume
    * fix), so "exact" means exact over the HASHED shingle space. A
    * collision can only MERGE two distinct shingles — raising a df,
    * adding a candidate, or inflating a common-shingle count, i.e. a
    * possible FALSE POSITIVE pair or an over-estimated jaccard — it can
    * NEVER hide a true pair (no false negatives, for any corpus). On
    * the tested corpora the capless string-space differential oracle
    * certifies collision-freeness outright; a deployment that needs the
    * no-false-positives direction on arbitrary corpora should verify
    * surviving pairs against raw shingles (one extra join) or key by
    * the full 128-bit md5 as [[exactSubstrRuns]] does.
    *
    * Output: (id_a, id_b, jaccard) — identical shape and rounding to
    * [[ngramJaccardPairs]]. */
  def prefixFilterJaccardPairs(docs: DataFrame, idCol: String,
                               shingleCol: String,
                               threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"bad threshold $threshold")
    val base = docs.select(col(idCol).as("id"), col(shingleCol).as("shs"))
      .filter(size(col("shs")) > 0)
    // shingles become md5-60-bit LONGS before any shuffle: the sf10 audit
    // measured the string-keyed df join + sorted string arrays spilling
    // super-linearly at the second decade (~30 B/shingle × 3 shuffles vs
    // 8 B). Completeness is untouched — the prefix theorem holds under
    // ANY global total order, and a hash collision can only MERGE two
    // shingles (raising df / adding a candidate / inflating a common
    // count), never hide a true pair. The capless string-space oracle
    // therefore certifies collision-freeness on the corpus along with
    // filter losslessness (the dedup_substring_exact md5 contract).
    val posting = base.select(col("id"), explode(col("shs")).as("_s"))
      .select(col("id"), Md5Hasher(col("_s")).as("sh"))
    val dfreq = posting.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // ONE shingling + df-sort pass, persisted (persistIdx hygiene): the
    // prefix explode AND both verification sides read this frame — the
    // unpersisted form re-ran the shingle pipeline three times (7.5 s →
    // ~2 s at sf0.1)
    val ordered = persistIdx("jaccardJoin", posting.join(dfreq, "sh")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ord"))
      .select(col("id"),
        transform(col("ord"), x => x.getField("sh")).as("sorted_sh"),
        size(col("ord")).as("n")))
    val prefLen =
      (col("n") - ceil(col("n") * lit(threshold)).cast("int") + 1)
    val prefixes = ordered.select(col("id"),
      explode(slice(col("sorted_sh"), lit(1), prefLen)).as("sh"))
    val cand = bucketPairs(prefixes, Seq("sh"), col("id"))
      .select(col("_a").as("id_a"), col("_b").as("id_b"))
      .distinct()
    // VERIFY-SHUFFLE DISCIPLINE (the sf10 single-box ceiling fix): the
    // candidate frame is ~100× the survivor count, so per-pair array
    // payload dominates the stage. Three levers, all result-identical:
    //   1. sizes attach FIRST (scalar joins) so the lossless length
    //      filter (jaccard ≥ t forces t·|A| ≤ |B| and t·|B| ≤ |A|) kills
    //      incompatible candidates BEFORE any array moves;
    //   2. only the SMALLER side's array rides the pair frame (intersect
    //      is symmetric; |A∩B| ≤ min — the big side attaches at its own
    //      doc-keyed join, shipped once per doc, not once per pair);
    //   3. both array joins are SHUFFLED HASH joins — sort-merge would
    //      SORT the array-laden stream, and sorting the wide frame is
    //      exactly the measured 74 GB spill at sf10.
    val sizes = ordered.select(col("id"), col("n"))
    val sized = cand
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .filter(col("n_b") >= col("n_a") * lit(threshold) &&
        col("n_a") >= col("n_b") * lit(threshold))
      .withColumn("_sm", when(col("n_a") <= col("n_b"), col("id_a"))
        .otherwise(col("id_b")))
      .withColumn("_bg", when(col("n_a") <= col("n_b"), col("id_b"))
        .otherwise(col("id_a")))
    sized
      .join(ordered.select(col("id").as("_sm"),
        col("sorted_sh").as("sh_s")).hint("shuffle_hash"), "_sm")
      .join(ordered.select(col("id").as("_bg"),
        col("sorted_sh").as("sh_b")).hint("shuffle_hash"), "_bg")
      .withColumn("common", size(array_intersect(col("sh_s"), col("sh_b"))))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Cross-source duplication provenance matrix: which sources copy from
    * which. Near-dup pairs lift to their documents' source labels and
    * aggregate into an unordered source×source matrix — the audit that
    * decides "drop mirror B entirely" vs "dedup within A" before paying
    * for document-level dedup of a mirrored crawl.
    *
    * Output: (source_a, source_b, n_pairs, n_docs) with source_a ≤
    * source_b (canonical order, so a pair of sources appears once);
    * n_docs = distinct documents of the pair's two sides involved in the
    * cell. Diagonal rows (source_a = source_b) are intra-source
    * duplication.
    *
    * Scale: two dimension-ish joins of the candidate pair frame against
    * the (id → source) projection (id-keyed shuffles), then a hash
    * aggregate over at most |sources|² cells — partials collapse each
    * task to its distinct cells. Pair frame is already capped upstream. */
  def crossSourceMatrix(pairs: DataFrame, idA: String, idB: String,
                        docs: DataFrame, idCol: String,
                        sourceCol: String): DataFrame = {
    val src = docs.select(col(idCol).as("_id"), col(sourceCol).as("_src"))
    val labeled = pairs
      .join(src.select(col("_id").as(idA), col("_src").as("_sa")), idA)
      .join(src.select(col("_id").as(idB), col("_src").as("_sb")), idB)
      .select(col(idA), col(idB),
        least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
    // explode each pair into its two (cell, doc) rows — n_pairs is then
    // half the row count and n_docs an exact distinct, with NO per-cell
    // array collection (a hot cell would otherwise accumulate millions of
    // ids into one aggregation buffer)
    labeled
      .select(col("source_a"), col("source_b"),
        explode(array(col(idA), col(idB))).as("_doc"))
      .groupBy(col("source_a"), col("source_b"))
      .agg((count(lit(1)) / lit(2)).cast("long").as("n_pairs"),
        count_distinct(col("_doc")).as("n_docs"))
  }

  /** Asymmetric CONTAINMENT over the same inverted index — the snippet
    * detector Jaccard structurally misses: a 50-shingle quote embedded in
    * a 5000-shingle page has jaccard ≈ 0.01 but containment(quote→page)
    * = 1.0. Standard companion to symmetric near-dup in corpus curation
    * (quote farms, scraped excerpts, boilerplate-wrapped payloads).
    *
    * Emits DIRECTED rows: (src, dst, cont_ppm) where cont_ppm =
    * ⌊10⁶·|src∩dst| / |src|⌋ ≥ `threshPpm` — each unordered candidate
    * pair yields up to two rows, one per direction. The score is integer
    * floor-ppm (common and set sizes are exact counts), so the report is
    * engine-exact with no fp division anywhere.
    *
    * Scale: identical cost envelope to [[ngramJaccardPairs]] — posting
    * lists capped at `maxPosting` (declared semantics, mirrored in any
    * oracle), in-bucket pair emission bounded by cap², one groupBy for
    * the common counts, two dimension-sized size joins. */
  def containmentPairs(docs: DataFrame, idCol: String, shingleCol: String,
                       threshPpm: Long, maxPosting: Int = 1000): DataFrame = {
    val sizes = docs.select(col(idCol).alias("id"), size(col(shingleCol)).alias("n_sh"))
    val posting = capGroups("containmentPairs",
      docs.select(col(idCol).alias("id"), explode(col(shingleCol)).alias("sh")),
      Seq("sh"), maxPosting)
    val common = bucketPairs(posting, Seq("sh"), col("id"))
      .groupBy(col("_a").alias("id_a"), col("_b").alias("id_b"))
      .agg(count(lit(1)).alias("common"))
    val sized = common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
    // both directions from one pair frame: explode a 2-element struct
    // array rather than unioning two branches (one plan, one scan)
    sized
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"),
          col("common"), col("n_a").as("n_src")),
        struct(col("id_b").as("src"), col("id_a").as("dst"),
          col("common"), col("n_b").as("n_src")))).as("d"))
      .select(col("d.src").as("src"), col("d.dst").as("dst"),
        expr("(1000000L * d.common) div d.n_src").as("cont_ppm"))
      .filter(col("cont_ppm") >= threshPpm)
  }

  /** EXACT containment join via ONE-SIDED prefix filtering — the
    * audit-grade companion of [[containmentPairs]] exactly as
    * [[prefixFilterJaccardPairs]] is to [[ngramJaccardPairs]]:
    * containment(src→dst) ≥ t forces overlap ≥ ⌈t·|src|⌉, so src's
    * rarest |src| − ⌈t·|src|⌉ + 1 shingles (global df order) must
    * intersect dst's FULL set — candidates join src prefixes against the
    * uncapped inverted index, completeness is a theorem, and the oracle
    * brute-forces every pair capless to certify it. Directionality is
    * inherent (a snippet's prefix finds its host; the host's prefix need
    * not find the snippet), so both directions emerge naturally from
    * each side's own prefix. ⌈t·n⌉ is exact integer arithmetic
    * ((n·ppm + 999999) div 10⁶ — no float boundary). Shingles are keyed
    * by md5-prefix 60-bit longs — [[prefixFilterJaccardPairs]]'s
    * exactness contract applies verbatim: a collision can inflate an
    * overlap (possible false-positive pair / over-estimated cont_ppm)
    * but can never hide a true pair; the capless oracle certifies
    * collision-freeness on the tested corpora. Output shape
    * matches [[containmentPairs]]: (src, dst, cont_ppm). */
  def prefixFilterContainmentPairs(docs: DataFrame, idCol: String,
                                   shingleCol: String,
                                   threshPpm: Long): DataFrame = {
    require(threshPpm > 0 && threshPpm <= 1000000, s"bad ppm $threshPpm")
    val base = docs.select(col(idCol).as("id"), col(shingleCol).as("shs"))
      .filter(size(col("shs")) > 0)
    // md5-60-bit shingle keys, as in [[prefixFilterJaccardPairs]]: same
    // volume argument, same can-only-add-candidates exactness contract
    val posting = base.select(col("id"), explode(col("shs")).as("_s"))
      .select(col("id"), Md5Hasher(col("_s")).as("sh"))
    val dfreq = posting.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val ordered = persistIdx("containmentJoin", posting.join(dfreq, "sh")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ord"))
      .select(col("id"),
        transform(col("ord"), x => x.getField("sh")).as("sorted_sh"),
        size(col("ord")).as("n")))
    val prefLen = col("n") -
      expr(s"(n * ${threshPpm}L + 999999L) div 1000000L") + lit(1)
    // POSITIONAL filtering (the PPJoin lever, Xiao et al. WWW'08, §3.2,
    // adapted to one-sided containment): a qualifying pair's FIRST
    // shared shingle in the global rarity order sits at 0-based
    // positions (_i, _j), and every overlap element sits at or after it
    // on both sides, so overlap ≤ min(n_src−_i, n_dst−_j). Candidates
    // failing that bound against the required ⌈t·n_src⌉ drop BEFORE the
    // distinct shuffle — lossless (the bound is a theorem; dropping a
    // generating occurrence keeps the pair if any occurrence passes,
    // and the first shared element always does for a true pair). On the
    // synthetic corpus the candidate set is already overlap-plausible
    // (sf10 audit: 48.5 M join rows → 46.2 M distinct pairs, exactly
    // 100× the sf0.1 counts), so this bound prunes little THERE — its
    // job is the degenerate corpus: a boilerplate family whose hot
    // shingles sort LATE (df-ascending order) has small n−pos
    // remainders, and the bound caps exactly the fan-out the uncapped
    // index would otherwise pay. Measured stage profile at sf10 (the
    // audit's fix-before-landing investigation): index build ~24 s,
    // candidate join 4 s, distinct 12 s, array verification ~122 s —
    // every stage linear in ROWS; the verification's wall excess is
    // ~74 GB of sorted-array shuffle spilling on the single 128 GiB
    // box, the same memory-ceiling class as the jaccard twin (SCALE.md).
    val prefixes = ordered.select(col("id").as("src"), col("n").as("n_src"),
      posexplode(slice(col("sorted_sh"), lit(1), prefLen))
        .as(Seq("_i", "sh")))
    val fullIdx = ordered.select(col("id").as("dst"), col("n").as("n_dst"),
      posexplode(col("sorted_sh")).as(Seq("_j", "sh")))
    val minOv = expr(s"(n_src * ${threshPpm}L + 999999L) div 1000000L")
    // VERIFY-SHUFFLE DISCIPLINE (the sf10 single-box ceiling fix — the
    // measured 74 GB array shuffle): verification is restructured to be
    // result-identical while moving a fraction of the bytes.
    //   1. UNORDERED verification: |src ∩ dst| is symmetric, and the
    //      prefix theorem says any direction with cont ≥ t generated its
    //      own candidate — so a direction that was NOT generated cannot
    //      pass the threshold. Verifying each unordered pair once and
    //      emitting both directions afterwards therefore yields the
    //      exact same row set, at half the verify rows when both
    //      directions were candidates (snippet↔host pairs usually are).
    //   2. only the SMALLER side's array rides the pair frame; the big
    //      side attaches at its own doc-keyed join (once per doc).
    //   3. SHUFFLED HASH joins for both array attaches — sort-merge
    //      would sort the array-laden stream, which is exactly what
    //      spilled on the single box.
    val cand = prefixes.join(fullIdx, "sh")
      .filter(col("src") =!= col("dst") &&
        least(col("n_src") - col("_i"), col("n_dst") - col("_j")) >= minOv)
      .select(least(col("src"), col("dst")).as("_lo"),
        greatest(col("src"), col("dst")).as("_hi"))
      .distinct()
    val sizes = ordered.select(col("id"), col("n"))
    val sized = cand
      .join(sizes.select(col("id").as("_lo"), col("n").as("n_lo")), "_lo")
      .join(sizes.select(col("id").as("_hi"), col("n").as("n_hi")), "_hi")
      .withColumn("_sm", when(col("n_lo") <= col("n_hi"), col("_lo"))
        .otherwise(col("_hi")))
      .withColumn("_bg", when(col("n_lo") <= col("n_hi"), col("_hi"))
        .otherwise(col("_lo")))
    sized
      .join(ordered.select(col("id").as("_sm"),
        col("sorted_sh").as("sh_s")).hint("shuffle_hash"), "_sm")
      .join(ordered.select(col("id").as("_bg"),
        col("sorted_sh").as("sh_b")).hint("shuffle_hash"), "_bg")
      .withColumn("common", size(array_intersect(col("sh_s"), col("sh_b"))))
      // both directions from the one verified pair — each direction's
      // ppm uses ITS OWN src size; the threshold filter reproduces
      // exactly the directed rows the theorem guarantees were generated
      .select(explode(array(
        struct(col("_lo").as("src"), col("_hi").as("dst"),
          col("common"), col("n_lo").as("n_src")),
        struct(col("_hi").as("src"), col("_lo").as("dst"),
          col("common"), col("n_hi").as("n_src")))).as("d"))
      .select(col("d.src").as("src"), col("d.dst").as("dst"),
        expr("(1000000L * d.common) div d.n_src").as("cont_ppm"))
      .filter(col("cont_ppm") >= threshPpm)
  }

  /** Token-weighted near-dup: tf-idf COSINE over the df-capped vocabulary
    * (SpotSigs-style) — the weighted complement of [[ngramJaccardPairs]]:
    * Jaccard treats every shingle equally, cosine lets rare tokens
    * dominate, which is what catches boilerplate-plus-unique-payload docs.
    *
    * Declared semantics: tokens whose posting list exceeds `maxPosting`
    * are stop-tokens — dropped from candidacy AND from the weights/norms
    * (consistently, so the measure is a true cosine over the pruned
    * vocabulary). That is also what bounds the work: per-token pair
    * emission ≤ cap², the usual inverted-index guard.
    *
    * Exactness: idf quantizes to integer micro-units (ONE `ln` per token,
    * then integer tf·idf_us products; pair numerators and norm squares sum
    * as DECIMAL(38,0)), so every aggregation is order-independent — the
    * single fp division per pair at the end is IEEE-identical across
    * engines. */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, tokCol: String,
                       threshold: Double, maxPosting: Int = 1000): DataFrame = {
    val nDocs = docs.select(count_distinct(col(idCol)).as("_n"))
    val tf = docs
      .select(col(idCol).as("id"), explode(col(tokCol)).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val capped = capGroups("tfidfCosinePairs", tf, Seq("tok"), maxPosting)
    val dfCounts = capped.groupBy("tok").agg(count(lit(1)).as("df"))
    val weighted = capped.join(dfCounts, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("w_us",
        col("tf") * round(log((col("_n") + lit(1.0)) / (col("df") + lit(1.0)))
          * lit(1e6), 0).cast("long"))
      .select(col("tok"), col("id"), col("w_us"))
    val norms = weighted.groupBy("id")
      .agg(sum(col("w_us").cast(DecimalType(38, 0)) * col("w_us")).as("_n2"))
      .select(col("id"), sqrt(col("_n2").cast("double")).as("norm"))
    val nums = bucketPairs(weighted, Seq("tok"),
        struct(col("id"), col("w_us")))
      .select(col("_a.id").as("id_a"), col("_b.id").as("id_b"),
        (col("_a.w_us").cast(DecimalType(38, 0)) * col("_b.w_us")).as("_p"))
      .groupBy("id_a", "id_b").agg(sum(col("_p")).as("num"))
    nums
      .join(norms.select(col("id").as("id_a"), col("norm").as("_na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("norm").as("_nb")), "id_b")
      .withColumn("cos", col("num").cast("double") / (col("_na") * col("_nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Candidate-set evaluation against ground truth — the tuning loop for
    * every dedup knob (bands/rows trade precision for recall, caps trade
    * recall for skew safety), analogous to [[Similarity.recallAtK]] for
    * ANN. Both inputs are canonical (id_a < id_b) pair frames; ground
    * truth is typically [[ngramJaccardPairs]] on a sample, candidates the
    * LSH/SimHash/tf-idf generator under test.
    *
    * One full-outer join on the pair key + one aggregate; the metric
    * frame is a single row however large the corpus. precision/recall are
    * integer ppm (true integer division in both engines), so the report
    * hash-matches exactly. */
  def candidateEval(cands: DataFrame, truth: DataFrame): DataFrame = {
    val c = cands.select(col("id_a"), col("id_b")).distinct()
      .withColumn("_c", lit(1L))
    val g = truth.select(col("id_a"), col("id_b")).distinct()
      .withColumn("_t", lit(1L))
    c.join(g, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(col("_c")).as("n_cand"), sum(col("_t")).as("n_truth"),
        sum(col("_c") * col("_t")).as("n_hit"))
      .na.fill(0L, Seq("n_cand", "n_truth", "n_hit"))
      .withColumn("precision_ppm", expr(
        "CASE WHEN n_cand = 0 THEN 0L ELSE (1000000L * n_hit) div n_cand END"))
      .withColumn("recall_ppm", expr(
        "CASE WHEN n_truth = 0 THEN 0L ELSE (1000000L * n_hit) div n_truth END"))
  }

  /** Analytic LSH S-curve grid (beyond-parity tuning tool): for each
    * (bands, rowsPerBand) config and similarity s on a 1/steps grid, the
    * candidate probability P = 1 − (1 − s^r)^b — the curve that picks the
    * banding BEFORE any data runs, with [[candidateEval]] as the
    * after-the-fact empirical check.
    *
    * Both powers expand to LEFT-ASSOCIATIVE repeated multiplication (never
    * `pow`, whose libm rounding differs across engines), so every grid
    * value is bit-identical in Spark and SQL and the ppm floor matches
    * exactly. Output is configs·steps rows — driver-scale math, generated
    * distributed anyway (spark.range) out of principle. */
  def lshTuningCurve(spark: org.apache.spark.sql.SparkSession,
                     configs: Seq[(Int, Int)], steps: Int): DataFrame = {
    require(steps >= 2 && configs.nonEmpty, "bad steps/configs")
    val base = spark.range(1, steps).select(col("id").as("i"),
      (col("id").cast("double") / steps).as("_s"))
    configs.map { case (b, r) =>
      val sr = (1 to r).foldLeft(lit(1.0): Column)((acc, _) => acc * col("_s"))
      val fail = (1 to b).foldLeft(lit(1.0): Column)((acc, _) =>
        acc * (lit(1.0) - sr))
      base.select(lit(b).as("bands"), lit(r).as("rows_per_band"), col("i"),
        expr(s"(i * 1000000L) div $steps").as("s_ppm"),
        floor((lit(1.0) - fail) * 1000000.0).cast("long")
          .as("p_candidate_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Bit masks 1L<<0 … 1L<<63 as an array literal — lets all SimHash bit
    * math stay in `zip_with` (codegen) instead of per-bit column shifts. */
  private val bitMasks: Column =
    array((0 until 64).map(i => lit(1L << i)): _*)

  /** SimHash fingerprints (id, sh64) for a corpus — explode → hash-once →
    * 64 codegen'd vote-sum aggregates, same scale shape as
    * `minhashSignatures` (map-side partial agg; one row per doc per
    * partition enters the shuffle). Prefer this over the per-row `simhash`
    * Column for corpus-wide fingerprinting: the array-HOF form evaluates
    * interpreted and allocates a 64-slot array per token. */
  def simhashFingerprints(docs: DataFrame, idCol: String,
                          tokCol: String): DataFrame = {
    val hashed = docs
      .select(col(idCol), explode(col(tokCol)).as("_t"))
      .select(col(idCol), Md5Hasher(col("_t")).as("_h"))
    val votes = (0 until 64).map { i =>
      sum(when(col("_h").bitwiseAND(lit(1L << i)) =!= 0, 1L).otherwise(-1L))
        .as(s"_v$i")
    }
    hashed.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 64).map(i =>
          when(col(s"_v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sh64"))
  }

  /** SimHash (64-bit): each token's `Md5Hasher` long votes ±1 on every bit;
    * fingerprint bit i is 1 iff the vote sum is positive. Near-dups =
    * fingerprints within small Hamming distance. Per-row Column form —
    * use `simhashFingerprints` for whole-corpus runs. */
  def simhash(toks: Column): Column = {
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) =>
        zip_with(acc, bitMasks,
          (a, m) => a + when(Md5Hasher(t).bitwiseAND(m) =!= 0, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, bitMasks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Connected components over near-duplicate pairs → (id, component),
    * component = the smallest member id. Alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each round every node links its larger neighbors (large-star)
    * then its smaller neighbors (small-star) to its minimum neighbor, which
    * converges to per-component stars in O(log n) rounds — independent of
    * cluster diameter, unlike min-label propagation whose round count grows
    * with the longest duplicate chain. Everything is joins/aggregations —
    * no driver union-find, so it scales with the pair set, not driver
    * memory. */
  def componentsFromPairs(pairs: DataFrame, iters: Int = 20): DataFrame = {
    // canonical directed edges u→v with u > v; self-loops dropped.
    // iterative algorithms MUST truncate lineage per round — otherwise the
    // plan nests one level per iteration and planning/codegen memory grows
    // exponentially (observed as driver OOM at ~10 rounds). Frames.truncate
    // upgrades to a reliable checkpoint when the session has a checkpoint
    // dir, so executor loss mid-iteration is survivable on a cluster.
    var edges = pairs.select(
        greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .transform(Frames.truncate)
    // order-independent set signature; bit_xor can't overflow under ANSI
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var sig = signature(edges)
    var converged = false
    var round = 0
    while (round < iters && !converged) {
      // large-star: every neighbor LARGER than u links to u's minimum.
      // ONE explicit repartition(u) feeds both consumers — the min
      // aggregate (no further exchange) and the v>u join side (filter
      // preserves partitioning; identical exchange subtree, so Spark
      // plans a ReusedExchange instead of shuffling nbrs twice).
      val nbrs = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
      val minOf = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("_mn"), col("u")).as("m"))
      // dedup via repartition(u) + dropDuplicates(u, v), NOT a per-node
      // collect_set: HashPartitioning(u) satisfies the (u, v) clustered
      // distribution, so the dedup aggregate plans EXCHANGE-FREE on top
      // of the repartition and stays hash-partitioned by the NEW u —
      // exactly the key the small-star aggregate and join below group
      // on. Unlike collect_set (one in-memory array per node, bounded
      // only by degree — an OOM magnet on a power-law hub at scale),
      // the (u, v)-keyed hash aggregate spills.
      val large = nbrs.filter(col("v") > col("u"))
        .join(minOf, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .repartition(col("u"))
        .dropDuplicates("u", "v")
      // small-star: every neighbor SMALLER than u (all of them, after
      // the large-star orientation) links to u's minimum, and u links
      // there too — both emissions from ONE join via a 2-element
      // explode, where two unioned projections would run the join twice
      val minS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(minS, Seq("u"))
        .select(explode(array(col("v"), col("u"))).as("u"),
          col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .transform(Frames.truncate)
      val nextSig = signature(small)
      converged = nextSig == sig
      sig = nextSig
      edges = small
      round += 1
    }
    // at the fixpoint the edge set is a star per component: (member, root).
    // min-agg guards the iteration-cap case where stars aren't flat yet.
    edges.select(col("u").as("id"), col("v").as("comp"))
      .union(edges.select(col("v").as("id"), col("v").as("comp")))
      .groupBy(col("id")).agg(min(col("comp")).as("comp"))
  }

  /** Canonical-corpus materializer: drop all but the smallest-id member of
    * each exact-duplicate group. */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val keep = exactGroups(docs, idCol, textCol)
      .select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** SimHash near-dup pairs: band 64 bits into 4 16-bit keys; docs sharing
    * a key in the same band are candidates (guarantees recall for Hamming
    * distance ≤ 3 by pigeonhole); verify exact Hamming ≤ hammingMax. */
  def simhashPairs(docs: DataFrame, idCol: String, simhashCol: String,
                   hammingMax: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val bandKeys = array((0 until 4).map(b =>
      shiftright(col(simhashCol), b * 16).bitwiseAND(lit(0xFFFFL))): _*)
    val banded = docs.select(
      col(idCol).alias("id"), col(simhashCol).alias("sh64"),
      posexplode(bandKeys).as(Seq("band", "band_key")))
    val sized = capGroups("simhashPairs", banded,
      Seq("band", "band_key"), maxBucket)
    // member = struct(id, sh64): sort_array orders by id (first field), so
    // the in-bucket slice pairing keeps id_a < id_b
    bucketPairs(sized, Seq("band", "band_key"), struct(col("id"), col("sh64")))
      .select(col("_a.id").as("id_a"), col("_b.id").as("id_b"),
        col("_a.sh64").as("sh_a"), col("_b.sh64").as("sh_b"))
      .distinct()
      .withColumn("hamming", hamming64(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= hammingMax)
      .select("id_a", "id_b", "hamming")
  }

  /** Incremental ingest dedup — screen a NEW batch of documents against
    * an EXISTING corpus without ever pairing the existing corpus with
    * itself: the "add a crawl snapshot to 100 TB" operation. Two screens,
    * both existence probes:
    *   - exact: the new doc's normalized content fingerprint
    *     ([[TextFunctions.contentFingerprint]]) already occurs in the
    *     corpus;
    *   - near: ANY of the new doc's MinHash LSH band keys collides with a
    *     corpus band key (the [[lshBands]] candidate rule — same
    *     signature/banding params as the intra-corpus pass, so an ingest
    *     screen and a full dedup agree on what "near" means).
    *
    * Scale shape: both probes are `left_semi` joins — an existence check
    * fans out NOTHING (each new row emerges at most once), so unlike the
    * intra-corpus pair generators there is no quadratic bucket risk and
    * no cap: a boilerplate band key shared by a million corpus docs costs
    * one match, not 10¹² pairs. The corpus side is exactly the band/
    * fingerprint index a deployment already maintains (persist it once,
    * screen every nightly batch against it); the new batch — typically
    * orders of magnitude smaller than the corpus — is the build side.
    * Short docs (fewer than `shingleN` tokens) have no shingles, hence no
    * bands: they can only be exact dups, mirroring the intra-corpus pass.
    *
    * Output: one row per NEW doc — (id, exact_dup, near_cand, keep) with
    * keep = ¬exact ∧ ¬near. Deterministic: both screens are pure
    * functions of content. */
  def ingestDedupReport(oldDocs: DataFrame, newDocs: DataFrame,
                        idCol: String, textCol: String, shingleN: Int = 3,
                        k: Int = 64, bands: Int = 16,
                        rowsPerBand: Int = 4): DataFrame = {
    require(k == bands * rowsPerBand,
      s"signature length $k must equal bands*rowsPerBand=${bands * rowsPerBand}")
    def fps(df: DataFrame) = df.select(col(idCol),
      TextFunctions.contentFingerprint(col(textCol)).as("_fp"))
    def bandsOf(df: DataFrame) = lshBands(
      minhashSignatures(
        df.select(col(idCol),
          TextFunctions.wordShingles(col(textCol), shingleN).as("_sh")),
        idCol, "_sh", k),
      idCol, "sig", bands, rowsPerBand)
    val newFps = fps(newDocs)
    val exactHits = newFps
      .join(fps(oldDocs).select(col("_fp")), Seq("_fp"), "left_semi")
      .select(col(idCol), lit(true).as("_exact"))
    val nearHits = bandsOf(newDocs)
      .join(bandsOf(oldDocs).select(col("band"), col("band_key")),
        Seq("band", "band_key"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("_near", lit(true))
    newDocs.select(col(idCol))
      .join(exactHits, Seq(idCol), "left")
      .join(nearHits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_exact"), lit(false)).as("exact_dup"),
        coalesce(col("_near"), lit(false)).as("near_cand"),
        (col("_exact").isNull && col("_near").isNull).as("keep"))
  }

  /** Substring-level duplication report — cross-document repeated spans
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better": repeated ~50-token spans degrade LMs even when whole-doc
    * dedup passes). For each doc: how many of its DISTINCT n-token windows
    * appear in at least one OTHER document, and the shared fraction — the
    * triage signal that decides span-removal or doc-dropping downstream.
    *
    * Scale shape mirrors `Sampling.contaminationReport`: windows hash to
    * compact 64-bit keys (fixed width instead of n-token strings on the
    * wire), the corpus is windowed ONCE and exploded ONCE
    * (`explode_outer`, so short docs survive with zero windows), the
    * shared-window set is one partial-agg'd groupBy (per-doc windows are
    * distinct, so a window's count IS its doc frequency), and one per-doc
    * aggregation counts windows and hits from the same rows. Hot
    * boilerplate windows are join-key skew — AQE's skew split handles the
    * join; nothing is quadratic. O(tokens · n) window build, two shuffles.
    * Windows hash with `Md5Hasher`, so the whole report is recomputable in
    * any SQL engine. */
  def substringDupReport(docs: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame = {
    val ex = docs.select(col(idCol), explode_outer(
        array_distinct(TextFunctions.wordNgrams(col(textCol), n))).as("_w"))
      // preserve NULL for window-less docs: a bare hash of null would
      // collapse to the seed constant and count as a real window
      .withColumn("_h", when(col("_w").isNotNull, Md5Hasher(col("_w"))))
      .drop("_w")
    val shared = ex.filter(col("_h").isNotNull)
      .groupBy(col("_h")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2)
      .select(col("_h"), lit(1).as("_hit"))
    ex.join(shared, Seq("_h"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(col("_h")).as("n_win"), count(col("_hit")).as("n_shared"))
      .withColumn("shared_ratio", round(when(col("n_win") > 0,
        col("n_shared").cast("double") / col("n_win")).otherwise(0.0), 6))
  }

  /** The fix that pairs with [[substringDupReport]]: REMOVE cross-document
    * repeated spans from each document, keeping the rest (Lee et al. 2022
    * dedups at span level for exactly this reason — dropping whole docs
    * over one boilerplate paragraph wastes the unique remainder). A token
    * is removed iff some n-token window covering it occurs in ≥ `minDf`
    * documents; intra-doc repeats (window frequent in ONE doc only) are
    * repetition, not duplication, and stay.
    *
    * Scale shape: windows keep their POSITION through the shared-set join
    * (`posexplode` + the same doc-frequency groupBy as the report); each
    * shared occurrence expands to its n covered positions, collected into
    * one per-doc position set (state per doc ≤ its token count — the
    * nested-docs bound); the kept text is a per-row array filter over
    * (token, index) pairs. Two shuffles + the final per-doc set.
    *
    * Output: (idCol, clean_text, n_tokens, n_removed). */
  def stripSharedSpans(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minDf: Int = 2): DataFrame = {
    val toks = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("_toks"))
    val wins = toks.select(col(idCol),
        posexplode(TextFunctions.tokenNgrams(col("_toks"), n))
          .as(Seq("_p", "_w")))
      .withColumn("_h", Md5Hasher(col("_w"))).drop("_w")
    // doc frequency over per-doc-DISTINCT windows, as in the report
    val shared = wins.select(col(idCol), col("_h")).distinct()
      .groupBy(col("_h")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDf)
      .select(col("_h"))
    val covered = wins.join(shared, Seq("_h"))
      .select(col(idCol),
        sequence(col("_p"), col("_p") + lit(n - 1)).as("_span"))
      .groupBy(col(idCol))
      .agg(array_distinct(flatten(collect_list(col("_span")))).as("_cov"))
    toks.join(covered, Seq(idCol), "left_outer")
      .withColumn("_cov", coalesce(col("_cov"), array().cast("array<int>")))
      .withColumn("_kept", filter(
        zip_with(col("_toks"), sequence(lit(0), size(col("_toks")) - 1),
          (t, i) => struct(t.as("t"), i.as("i"))),
        s => !array_contains(col("_cov"), s.getField("i"))))
      .select(col(idCol),
        array_join(transform(col("_kept"), _.getField("t")), " ")
          .as("clean_text"),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(col("_cov")).cast("long").as("n_removed"))
  }

  /** EXACT substring-duplication runs — the audit-grade companion to
    * [[substringDupReport]] (the same relationship `prefixFilterJaccardPairs`
    * bears to the capped LSH screen): per document, every MAXIMAL span
    * covered by corpus-duplicated substrings of ≥ `minLen` tokens, with
    * its exact token extent. Lee et al. 2022's ExactSubstr semantics:
    * a position is covered iff some length-`minLen` substring through it
    * occurs ≥ 2 times ANYWHERE in the corpus (intra-document repeats
    * count — they are still verbatim duplication), and the removal/report
    * unit is the union of covered intervals. That union is computed
    * EXACTLY from fixed-depth suffix buckets: bucketing every suffix by
    * its depth-`minLen` token prefix and keeping buckets of size ≥ 2 is
    * precisely "some duplicated substring of length ≥ minLen starts
    * here" — a repeated substring of length ℓ ≥ minLen contains a
    * repeated depth-minLen prefix at each of its first ℓ−minLen+1
    * positions, so maximal covered intervals (and their lengths, which
    * the windowed report cannot see past its fixed n) are recovered
    * without materializing full suffixes or an LCP array.
    *
    * Exactness: bucket keys are FULL 128-bit md5 hex of the window text
    * (not the 60-bit screening prefix) — cross-engine recomputable and
    * collision-free at any realistic corpus size.
    *
    * Scale shape: one posexplode (linear in tokens), one partial-agg'd
    * occurrence count, one semi-join back (hot boilerplate windows are
    * join skew — AQE splits them), then island detection per document
    * (window partitioned BY DOC, sorted by position — the per-doc frame
    * is bounded by doc length). Nothing pairwise, nothing quadratic.
    *
    * Output: one row per maximal run — (idCol, run_start, run_len,
    * n_dup_windows); documents with no covered span are absent. */
  def exactSubstrRuns(docs: DataFrame, idCol: String, textCol: String,
                      minLen: Int): DataFrame = {
    val toks = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("_toks"))
    // persisted: both the occurrence count and the semi-join side read
    // this frame — unpersisted, the tokenize + posexplode + md5 pipeline
    // would run twice over the corpus (the jaccardJoin lesson)
    val wins = persistIdx("exactSubstr", toks.select(col(idCol),
        posexplode(TextFunctions.tokenNgrams(col("_toks"), minLen))
          .as(Seq("_p", "_w")))
      .withColumn("_h", md5(col("_w"))).drop("_w"))
    val dup = wins.groupBy(col("_h")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= 2).select(col("_h"))
    val starts = wins.join(dup, Seq("_h")).select(col(idCol), col("_p"))
    // union of length-minLen intervals sorted by start: starts p, p'
    // share an island iff p' − p ≤ minLen (overlap or touch)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_p"))
    starts
      .withColumn("_gap", col("_p") - lag(col("_p"), 1).over(w))
      .withColumn("_new",
        when(col("_gap").isNull || col("_gap") > minLen, 1).otherwise(0))
      .withColumn("_run", sum(col("_new")).over(w))
      .groupBy(col(idCol), col("_run"))
      .agg(min(col("_p")).cast("long").as("run_start"),
        (max(col("_p")) - min(col("_p")) + minLen).cast("long")
          .as("run_len"),
        count(lit(1)).as("n_dup_windows"))
      .select(col(idCol), col("run_start"), col("run_len"),
        col("n_dup_windows"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD'03 — the MOSS
    * algorithm): hash every word n-gram, then keep the MINIMUM hash of
    * each sliding window of `window` consecutive n-gram hashes. The
    * guarantee: any shared run of ≥ window+n−1 tokens between two
    * documents shares at least one selected fingerprint, while storage
    * drops to ~2/(window+1) of the n-gram set — the position-robust
    * middle ground between one whole-doc `contentFingerprint` and the
    * full shingle set.
    *
    * Per-row codegen'd HOFs, no shuffle (a storage/feature transform like
    * simhash): O(len·window) per doc from the per-position `slice` copy —
    * the n-gram hash column is materialized first so lambdas re-read an
    * attribute, not re-evaluate the shingling (the HOF re-eval trap).
    * Docs with fewer than n tokens (no n-grams) yield an empty set; docs
    * with < window n-grams yield the single min of what exists.
    * Output: (idCol, fps array<long> sorted distinct). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, window: Int = 4): DataFrame = {
    require(n >= 1 && window >= 1, s"bad winnow params n=$n window=$window")
    val hashed = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        transform(TextFunctions.tokenNgrams(col("_toks"), n),
          g => Md5Hasher(g)).as("_h"))
    val wmins = transform(
      sequence(lit(1), greatest(size(col("_h")) - (window - 1), lit(1))),
      i => array_min(slice(col("_h"), i, lit(window))))
    hashed.select(col(idCol),
      when(size(col("_h")) === 0, array().cast("array<long>"))
        .otherwise(array_sort(array_distinct(wmins))).as("fps"))
  }

  /** Paragraph segmentation + fingerprinting — the practical middle
    * granularity between [[substringDupReport]]'s fixed n-token windows
    * and whole-document fingerprints: crawl pipelines kill boilerplate at
    * the PARAGRAPH level (a legal footer repeated across a domain leaves
    * the articles unique but poisons n-gram stats if kept).
    *
    * Segmentation rule: split at blank lines (≥2 consecutive newlines,
    * the crawl-corpus paragraph convention; note [[Html.mainContent]]
    * joins its kept blocks with SINGLE newlines, so its output arrives
    * as one segment and falls through to the fixed-block fallback —
    * split it on '\n' first if block-as-paragraph granularity is
    * wanted), then any segment longer than `blockTokens` tokens further
    * splits into fixed `blockTokens`-token blocks — the scale guard that
    * keeps a 10 MB single-paragraph page from becoming one unsharable
    * fingerprint. Fingerprint = md5 of the
    * normalized (lowercased, whitespace-collapsed) block — engine-exact,
    * no seed.
    *
    * Strictly per-row codegen'd work (split + HOF slicing + md5); no
    * shuffle until the caller aggregates. Empty/whitespace-only segments
    * vanish; a doc with no tokens yields no rows.
    *
    * Output: (idCol, fp) — one row per paragraph OCCURRENCE (a block
    * repeated inside one doc keeps its multiplicity). */
  def paragraphFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            blockTokens: Int = 40): DataFrame = {
    require(blockTokens >= 1, s"bad blockTokens $blockTokens")
    val segs = docs
      .select(col(idCol), explode(split(col(textCol), "\\n{2,}")).as("_seg"))
      .select(col(idCol), TextFunctions.tokens(col("_seg")).as("_tk"))
      .filter(size(col("_tk")) > 0)
    segs.select(col(idCol), explode(
        transform(sequence(lit(0),
            floor((size(col("_tk")) - 1) / lit(blockTokens)).cast("int")),
          i => array_join(
            slice(col("_tk"), i * lit(blockTokens) + 1, lit(blockTokens)),
            " "))).as("_para"))
      .select(col(idCol), md5(col("_para")).as("fp"))
  }

  /** Per-doc duplicated-paragraph share: of a document's paragraphs, how
    * many carry a fingerprint seen in ≥2 DISTINCT documents (intra-doc
    * repetition alone is not duplication — the [[stripSharedSpans]]
    * rule). Share in exact floor-ppm. Two linear shuffles (fingerprint
    * doc-frequency + the join back); no pair enumeration anywhere, so no
    * hot-bucket cap is needed at any scale.
    *
    * Output: (idCol, n_paragraphs, n_dup_paragraphs, dup_share_ppm). */
  def paragraphDupReport(docs: DataFrame, idCol: String, textCol: String,
                         blockTokens: Int = 40): DataFrame = {
    val fps = paragraphFingerprints(docs, idCol, textCol, blockTokens)
    val shared = fps.groupBy(col("fp"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= 2)
      .select(col("fp"), lit(1).as("_hit"))
    fps.join(shared, Seq("fp"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paragraphs"),
        count(col("_hit")).as("n_dup_paragraphs"))
      .withColumn("dup_share_ppm",
        expr("(n_dup_paragraphs * 1000000L) div n_paragraphs"))
  }

  /** Cross-doc paragraph provenance: every fingerprint shared by ≥2
    * distinct documents, with its spread (`n_docs`), total occurrence
    * count and the id bracket ([min, max] doc ids — the canonical-source
    * pointer without collecting unbounded member arrays; a domain-wide
    * boilerplate paragraph at corpus scale can sit in millions of docs,
    * so the report carries COUNTS, not membership lists).
    *
    * Output: (fp, n_docs, n_occurrences, first_doc_id, last_doc_id). */
  def paragraphProvenance(docs: DataFrame, idCol: String, textCol: String,
                          blockTokens: Int = 40): DataFrame =
    paragraphFingerprints(docs, idCol, textCol, blockTokens)
      .groupBy(col("fp"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col(idCol)).as("first_doc_id"),
        max(col(idCol)).as("last_doc_id"))
      .filter(col("n_docs") >= 2)

  /** Content-defined chunking (the rsync / LBFS primitive, Muthitacharoen
    * et al. SOSP'01): cut each document AFTER token i whenever the hash of
    * the `window` tokens ending at i ≡ 0 (mod `divisor`), yielding
    * variable-size chunks that average ~`divisor` tokens. The point vs
    * fixed windows (dedup_substring): boundaries move WITH the content —
    * inserting one sentence shifts every fixed window after it, but only
    * the chunks local to the edit change, so cross-document/cross-version
    * chunk reuse stays visible. That is the block-level storage-dedup
    * property, and for corpora it catches near-identical revisions
    * (wiki/news edits, crawl re-fetches) chunk-by-chunk.
    *
    * Entirely per-row codegen'd HOFs — boundary positions, chunk slicing
    * and joining happen inside one projection; no shuffle until the
    * caller aggregates fingerprints. Docs shorter than `window` tokens
    * are one whole-doc chunk; empty docs yield no chunks.
    *
    * Output: (idCol, chunk_idx, chunk, fp) — fp = md5(chunk), the
    * engine-free chunk identity. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                window: Int = 3, divisor: Int = 16): DataFrame = {
    require(window >= 1 && divisor >= 2,
      s"bad cdc params window=$window divisor=$divisor")
    val toks = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("_toks"))
    // Boundary positions (1-based token index): hash of the window ENDING
    // here ≡ 0 — gram j (1-based) ends at token j + window − 1.
    //
    // EXPRESSION-SHAPE WARNING (profiled, 6–20× each): the gram hashes and
    // positions must reach the lambda as zip_with ARGUMENTS (evaluated once
    // per row). Referencing an outer array per element (element_at(h, j),
    // or slice(toks, …) per position) gets inlined by CollapseProject and
    // re-evaluates the whole gram build per ELEMENT — O(len²/row).
    // sequence() guard: Spark generates a DESCENDING sequence when
    // start > stop, so sub-window docs short-circuit to "no boundaries".
    val bpos = when(size(col("_toks")) < window, array().cast("array<int>"))
      .otherwise(filter(zip_with(
        transform(TextFunctions.tokenNgrams(col("_toks"), window),
          g => Md5Hasher(g)),
        sequence(lit(window), size(col("_toks"))),
        (h, p) => when(pmod(h, lit(divisor.toLong)) === 0, p)),
        x => x.isNotNull))
    // chunk k spans tokens [starts(k), ends(k)]; a boundary on the last
    // token would open an empty trailing chunk — the filter drops it.
    // posexplode BEFORE slicing: the Generate node is a projection-collapse
    // barrier, so _toks materializes once per doc and each chunk row slices
    // an attribute instead of re-tokenizing (trailing drop cannot shift
    // earlier indexes — only the final (start > end) pair can be empty)
    toks.withColumn("_bpos", bpos)
      .select(col(idCol), col("_toks"),
        posexplode(zip_with(
          concat(array(lit(1)), transform(col("_bpos"), b => b + 1)),
          concat(col("_bpos"), array(size(col("_toks")))),
          (st, en) => struct(st.as("st"), en.as("en"))))
          .as(Seq("chunk_idx", "_se")))
      .filter(col("_se.st") <= col("_se.en"))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("_toks"), col("_se.st"),
          col("_se.en") - col("_se.st") + 1), " ").as("chunk"))
      .withColumn("fp", md5(col("chunk")))
  }

  /** Per-document chunk-reuse report over [[cdcChunks]]: how many of a
    * doc's CDC chunks also occur (by fingerprint) in at least `minDf`
    * documents? High `shared_ratio` with a non-trivial chunk count means
    * the doc is largely assembled from corpus-repeated blocks — a
    * revision, mirror, or template — even when no fixed window or whole
    * hash matches.
    *
    * Scale shape: one explode (linear in tokens), one fingerprint
    * doc-frequency groupBy (map-side combine), one equi-join back on the
    * fingerprint (AQE skew-splits hot boilerplate chunks), one per-doc
    * aggregation. Nothing quadratic, nothing driver-side.
    *
    * Output: (idCol, n_chunks, n_shared, shared_ratio). */
  def cdcDupReport(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 3, divisor: Int = 16,
                   minDf: Int = 2): DataFrame = {
    val ch = cdcChunks(docs, idCol, textCol, window, divisor)
    val dfreq = ch.select(col(idCol), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDf).select(col("fp"), lit(1).as("_shared"))
    val per = ch.join(dfreq, Seq("fp"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"), count(col("_shared")).as("n_shared"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(when(coalesce(col("n_chunks"), lit(0L)) > 0,
          coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_chunks"))
          .otherwise(lit(0.0)), 6).as("shared_ratio"))
  }
}
