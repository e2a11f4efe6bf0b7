package graft.functions

import org.apache.spark.sql.DataFrame

/** Cache hygiene for operators that persist a shared intermediate. The
  * (small) result frame is materialized eagerly (`localCheckpoint(true)`)
  * so the persisted input can be released before the caller ever runs an
  * action — a lazy return would either leak the cache entry into the
  * session (one per call; a long bench session measured multi-fold GC
  * inflation from exactly this accumulation) or, if unpersisted early,
  * silently recompute the shared intermediate once per consumer.
  *
  * Only call with results that are aggregate-bounded (curves, histograms,
  * top-k frames), never corpus-sized — the checkpoint stores row-format
  * blocks on the executors. */
private[graft] object Frames {
  def sealRelease(out: DataFrame, cached: DataFrame*): DataFrame = {
    val r = out.localCheckpoint(true)
    cached.foreach(_.unpersist(false))
    r
  }

  /** Per-round lineage truncation for iterative operators (connected
    * components, PageRank, LPA, k-core, k-means, BPE, MMR, power
    * iteration). Local mode — and any cluster that has NOT configured a
    * checkpoint directory — uses `localCheckpoint`: executor-local blocks,
    * no HDFS round-trip. But localCheckpoint blocks die with their
    * executor, and on a 1000-executor cluster some executor loss per hour
    * is the norm — a lost block aborts the whole iteration, because the
    * lineage needed to recompute it was just truncated away. So when the
    * session has a reliable checkpoint dir (`sc.setCheckpointDir`, the
    * standard cluster-side knob), truncation upgrades to `checkpoint()`:
    * blocks land on the fault-tolerant store and survive executor loss.
    * Both modes are eager (materialize now) and produce identical data —
    * only the storage of the truncation point differs.
    *
    * Sessions enabling reliable mode should also set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    * (`graft.Sessions` sets it for every main): Spark only deletes
    * superseded reliable-checkpoint files under that flag, and an
    * iterative operator writes one per round. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Free the storage behind a [[truncate]]d frame NOW. `Dataset
    * .unpersist` is a cache-manager call and a NO-OP for checkpoint
    * blocks (the persisted RDD behind a `LogicalRDD` plan is not an
    * `InMemoryRelation` entry), so iterative loops that "unpersist"
    * their previous round's truncated frame were really waiting on the
    * ContextCleaner to GC the reference — bounded, but lazy. This walks
    * the (shallow, public) RDD dependency chain from the frame's
    * execution RDD to the persisted ancestor and unpersists it
    * directly.
    *
    * CONTRACT: only frames returned by [[truncate]] (whose consumers
    * have already been eagerly truncated) release anything. The walk
    * verifies the found ancestor IS a checkpoint-materialized RDD
    * (`isCheckpointed`) before unpersisting — a derived frame built over
    * someone else's merely-`persist`ed dataset finds that shared cache
    * entry first, and freeing it would be wrong twice over: the cache
    * may still be in use, and for `localCheckpoint` blocks the persisted
    * copy is the ONLY copy (later consumers die with "Checkpoint block
    * not found" rather than recompute). Non-truncated frames are
    * therefore a guaranteed no-op, not a best-effort release. */
  def release(df: DataFrame): Unit = {
    val none = org.apache.spark.storage.StorageLevel.NONE
    var r: org.apache.spark.rdd.RDD[_] = df.queryExecution.toRdd
    var depth = 0
    while (r.getStorageLevel == none && r.dependencies.nonEmpty &&
        depth < 8) {
      r = r.dependencies.head.rdd
      depth += 1
    }
    if (r.getStorageLevel != none && r.isCheckpointed) r.unpersist(false)
  }
}
