package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured-Streaming surface. The reference is batch-only (its
  * "incremental" story is a run-level timestamp gate — SURVEY.md §2.5 W7),
  * so this is a beyond-parity extension: the same windowed aggregation
  * logic is expressed once and runs in both batch and streaming mode.
  *
  * Scale notes: the streaming plan is a standard watermark + tumbling
  * window — state is bounded by (watermark horizon × keys); shuffle
  * partitioning on (window, event_type) distributes state across
  * executors.
  */
object EventStream {

  /** Streaming read of a drop-zone: `glob` names either loose files in
    * `dir` (the landing-area shape) or a table DIRECTORY (a Spark-written
    * dataset of part files). `pathGlobFilter` matches LEAF file names
    * only, so a directory named like the glob would otherwise stream as
    * silently EMPTY — caught at 10× scale, where the ramp's documents
    * table is a part-file directory while the sf0.01/0.1 tables are
    * single files. */
  private[streaming] def streamRead(spark: SparkSession, dir: String,
                                    glob: String,
                                    schema: StructType): DataFrame = {
    // Hadoop FileSystem, not java.io.File: drop zones live on hdfs://
    // s3a:// etc., where a local-File check would always say "not a
    // directory" and silently re-open the empty-stream hole. A glob
    // with wildcards never names a single directory, and any listing
    // failure falls back to the plain glob-filtered read.
    val isDir = try {
      val p = new org.apache.hadoop.fs.Path(dir, glob)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.exists(p) && fs.getFileStatus(p).isDirectory
    } catch { case scala.util.control.NonFatal(_) => false }
    if (isDir)
      spark.readStream.schema(schema)
        .parquet(new org.apache.hadoop.fs.Path(dir, glob).toString)
    else spark.readStream.schema(schema)
      .option("pathGlobFilter", glob).parquet(dir)
  }

  /** The drop-zone read the drains below start from: [[streamRead]] with
    * `ts` made a TIMESTAMP by [[normalizeTs]]. (The ingest screen reads
    * through [[streamRead]] alone; it synthesizes its own `ts`.) */
  private[streaming] def readDropZone(spark: SparkSession, dir: String,
                                      glob: String,
                                      schema: StructType): DataFrame =
    normalizeTs(streamRead(spark, dir, glob, schema))

  /** Parquet INT64 TIMESTAMP(NANOS) columns aren't a Spark type; with
    * `spark.sql.legacy.parquet.nanosAsLong=true` they read as long
    * nanoseconds. This shim restores a proper TimestampType (micros) `ts`
    * so all window/watermark logic is type-correct. No-op when `ts` is
    * already a timestamp. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      // integer `div`, NOT `/`: epoch-nanos (~1.7e18) exceed double's 53-bit
      // mantissa, so fp division loses microseconds
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case org.apache.spark.sql.types.TimestampNTZType =>
      // µs-parquet dumps read as NTZ (isAdjustedToUTC=false); the session
      // runs UTC, so the cast reinterprets wall time as the same instant —
      // required because unix_micros/withWatermark accept only TIMESTAMP
      df.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
    case _ => df
  }

  /** Tumbling-window aggregation, usable on a batch OR streaming frame.
    * `exactDistinct` (batch only — streaming can't do exact distinct without
    * state explosion) swaps the HLL sketch for `count_distinct` AND sums
    * `value` as an exact decimal — cast HERE, not by the caller — so exact
    * results are independent of partitioning/accumulation order (fp-sum
    * order-sensitivity would break differential testing and idempotent
    * re-runs). The default (streaming) path keeps the native value type. */
  def windowedAgg(events: DataFrame, windowLen: String,
                  exactDistinct: Boolean = false,
                  decimalSum: Boolean = false): DataFrame = {
    val users =
      if (exactDistinct) count_distinct(col("user_id")).alias("n_users")
      else approx_count_distinct(col("user_id")).alias("n_users")
    val value =
      if (exactDistinct || decimalSum)
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))
      else col("value")
    events
      .groupBy(window(col("ts"), windowLen).alias("w"), col("event_type"))
      .agg(count(lit(1)).alias("n_events"),
        sum(value).alias("sum_value"), users)
      .select(col("w.start").alias("window_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("n_users"))
  }

  /** Stateful streaming creates one state store per shuffle partition per
    * batch; the drain harness carries tiny state, so fewer partitions cut
    * pure fixed overhead (~2× on the bench queries going 32→8, and about
    * another third going 8→2 — state-store setup/commit dominates these
    * drains, not data). Restores the session setting afterwards.
    *
    * Partitions must SCALE WITH STATE: measured on this box, 2 partitions
    * is fastest at ≤100 K events but crawls at 1 M (state ops serialize
    * on 2 cores), where 16 wins — hence the env override
    * (`SPARK_GRAFT_STREAM_PARTS`) the 10× scale runs set. On a real
    * cluster size partitions to state volume; this default is tuned to
    * the driver's sf0.1 drain harness, not production. */
  private def withStreamingPartitions[A](spark: SparkSession, n: Int)
                                        (body: => A): A = {
    val parts = graft.Sessions.positiveIntEnv(sys.env,
      "SPARK_GRAFT_STREAM_PARTS").getOrElse(n)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, parts.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Run the windowed aggregation as a real streaming query over a parquet
    * directory (file source, one-shot drain) into an in-memory sink, and
    * return the materialized result (latest emission per window). Used by
    * tests to prove the streaming path; production would aim `writeStream`
    * at a real sink.
    *
    * Update mode + watermark, NOT complete mode: complete mode retains
    * every window ever seen in state forever — unbounded on a real stream.
    * With update, state for windows older than the watermark is evicted;
    * the memory sink then holds one row per emission, so the caller keeps
    * the latest per (window, type). */
  def runStreaming(spark: SparkSession, dir: String, glob: String,
                   schema: StructType, windowLen: String, watermark: String,
                   queryName: String = "graft_stream"): DataFrame = {
    val stream = readDropZone(spark, dir, glob, schema)
    // decimal sum in the streaming state: exact and accumulation-order-free,
    // so a full drain's final emission is bit-comparable with the batch
    // twin (count_distinct stays approximate — exact distinct is
    // unsupported/unbounded in streaming aggregation state)
    val agg = windowedAgg(stream.withWatermark("ts", watermark), windowLen,
      decimalSum = true)
    withStreamingPartitions(spark, 2) {
      val q = agg.writeStream
        .outputMode("update")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    import org.apache.spark.sql.expressions.Window
    spark.table(queryName)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("window_start"), col("event_type"))
          .orderBy(col("n_events").desc)))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Streaming ingest dedup: at-least-once sources (Kafka, file re-drops)
    * redeliver events; this drops redeliveries by key while keeping state
    * BOUNDED — `dropDuplicatesWithinWatermark` evicts seen-keys older than
    * the watermark horizon, so state is O(keys per horizon), not O(all
    * keys ever). The batch `Dedup.exactGroups` remains the reprocessing
    * tool; this is the live-pipeline guard in front of it. */
  def dedupStream(stream: DataFrame, watermark: String,
                  keys: Seq[String]): DataFrame =
    stream.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Drain `dedupStream` over a parquet drop-zone into a memory sink
    * (Append mode — each event is emitted exactly once) and return the
    * deduped frame. */
  def runStreamingDedup(spark: SparkSession, dir: String, glob: String,
                        schema: StructType, watermark: String,
                        keys: Seq[String],
                        queryName: String = "graft_dedup_stream"): DataFrame = {
    val stream = readDropZone(spark, dir, glob, schema)
    withStreamingPartitions(spark, 2) {
      val q = dedupStream(stream, watermark, keys).writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Stream-static ENRICHMENT join — the streaming half of the classic
    * fact↔dimension pattern: each micro-batch of events picks up dimension
    * attributes from a static frame. Stateless (no watermark, no state
    * store): Spark plans a broadcast hash join per micro-batch, so the
    * dimension must be broadcast-sized — the same contract as every other
    * small-dim join in this repo. The static side is re-resolved per batch
    * for file-based sources, which is what makes slowly-changing dims pick
    * up snapshots without restarting the query. Left join: an event with
    * no dimension row still flows, carrying nulls — fact streams must
    * never lose rows to a lagging dimension load. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left_outer")

  /** Drain `enrichStream` over a parquet drop-zone (Append mode — each
    * event is emitted exactly once, enriched) and return the result. */
  def runStreamingEnrich(spark: SparkSession, dir: String, glob: String,
                         schema: StructType, dim: DataFrame, keys: Seq[String],
                         queryName: String = "graft_enrich_stream"): DataFrame = {
    val stream = readDropZone(spark, dir, glob, schema)
    withStreamingPartitions(spark, 2) {
      val q = enrichStream(stream, dim, keys).writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Stream-stream INTERVAL join — attribution: pair each `fromType` event
    * with the same user's `toType` events that follow within
    * `withinMinutes` (click → purchase within the attribution window).
    * The time-bound condition plus watermarks on BOTH sides is what makes
    * streaming state finite: a buffered `from` row can be dropped once the
    * watermark passes its timestamp + window, a `to` row once it can no
    * longer match anything — Spark derives both bounds from the join
    * condition. Inner join in append mode emits each matched pair exactly
    * once. The same function runs on batch frames (`withWatermark` is a
    * no-op there), which is the oracle twin. */
  def intervalJoinStream(events: DataFrame, fromType: String, toType: String,
                         withinMinutes: Int, watermark: String): DataFrame = {
    val from = events.filter(col("event_type") === fromType)
      .select(col("event_id").as("from_id"), col("user_id"),
        col("ts").as("from_ts"))
      .withWatermark("from_ts", watermark)
    val to = events.filter(col("event_type") === toType)
      .select(col("event_id").as("to_id"), col("user_id").as("_uid_to"),
        col("ts").as("to_ts"))
      .withWatermark("to_ts", watermark)
    from.join(to,
        col("user_id") === col("_uid_to") &&
          col("to_ts") >= col("from_ts") &&
          col("to_ts") <= col("from_ts") +
            expr(s"interval $withinMinutes minutes"),
        "inner")
      .select(col("from_id"), col("to_id"), col("user_id"),
        col("from_ts"), col("to_ts"))
  }

  /** Drain `intervalJoinStream` over a parquet drop-zone (Append mode —
    * each attributed pair emitted exactly once). */
  def runStreamingIntervalJoin(spark: SparkSession, dir: String, glob: String,
                               schema: StructType, fromType: String,
                               toType: String, withinMinutes: Int,
                               watermark: String,
                               queryName: String = "graft_attrib_stream")
      : DataFrame = {
    val stream = readDropZone(spark, dir, glob, schema)
    withStreamingPartitions(spark, 2) {
      val q = intervalJoinStream(stream, fromType, toType, withinMinutes,
          watermark).writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Per-user running session state for the stateful-streaming path. */
  final case class UserSessions(lastTsMicros: Long, nSessions: Long, nEvents: Long)
  final case class UserSessionCounts(user_id: Long, n_sessions: Long, n_events: Long)

  /** Stateful streaming sessionization via
    * `KeyValueGroupedDataset.mapGroupsWithState`: per-user state carries the
    * last event time and session count across micro-batches; a gap larger
    * than `gapMinutes` opens a new session. Emits the running per-user
    * counts each batch (Update mode).
    *
    * Scale notes: state is O(users) and partitioned by the grouping key
    * across executors; per-batch work sorts only that batch's events per
    * user. The batch `sessionize` stays the right tool for reprocessing —
    * this is the live-pipeline variant. */
  def sessionizeStateful(events: DataFrame, gapMinutes: Int)
      : org.apache.spark.sql.Dataset[UserSessionCounts] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserSessions, UserSessionCounts](
        GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[(Long, Long)],
         state: GroupState[UserSessions]) =>
          val sorted = batch.map(_._2).toArray.sorted
          val prev = state.getOption.getOrElse(UserSessions(Long.MinValue, 0L, 0L))
          var last = prev.lastTsMicros
          var sessions = prev.nSessions
          sorted.foreach { ts =>
            if (last == Long.MinValue || ts - last > gapMicros) sessions += 1
            last = ts
          }
          val next = UserSessions(last, sessions, prev.nEvents + sorted.length)
          state.update(next)
          UserSessionCounts(user, next.nSessions, next.nEvents)
      }
  }

  /** Drain `sessionizeStateful` over a parquet directory into a memory sink
    * (Update mode) and return the final per-user counts. */
  def runStatefulSessions(spark: SparkSession, dir: String, glob: String,
                          schema: StructType, gapMinutes: Int,
                          queryName: String = "graft_sessions"): DataFrame = {
    val stream = readDropZone(spark, dir, glob, schema)
    withStreamingPartitions(spark, 2) {
      val q = sessionizeStateful(stream, gapMinutes).toDF().writeStream
        .outputMode("update")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // Update mode appends one row per user per batch — keep the last
    val byUser = spark.table(queryName)
    import org.apache.spark.sql.expressions.Window
    byUser
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("n_events").desc, col("n_sessions").desc)))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Build the persisted static corpus index the ingest screen probes:
    * (exact content-fingerprint set, LSH band-key set). Both frames are
    * PERSISTED — micro-batches re-read the static side, so the caller
    * must hold them for the life of the streaming query and unpersist
    * them when it stops ([[runStreamingIngestScreen]] does). */
  def buildCorpusDedupIndex(corpus: DataFrame, idCol: String,
                            textCol: String,
                            hasher: graft.functions.Dedup.Hasher)
      : (DataFrame, DataFrame) = {
    import graft.functions.{Dedup, TextFunctions}
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val oldFp = corpus
      .select(TextFunctions.contentFingerprint(col(textCol)).as("_fp"))
      .distinct().persist(lvl)
    val oldBands = Dedup.lshBands(
        Dedup.minhashSignatures(
          corpus.select(col(idCol),
            TextFunctions.wordShingles(col(textCol), 3).as("_sh")),
          idCol, "_sh", 64, hasher),
        idCol, "sig", 16, 4, hasher)
      .select(col("band"), col("band_key")).distinct().persist(lvl)
    (oldFp, oldBands)
  }

  /** Streaming ingest dedup SCREEN — the arrival-time twin of
    * [[graft.functions.Dedup.ingestDedupReport]]: each new document is
    * probed on arrival against a PERSISTED static corpus index — the
    * exact content-fingerprint set (left join ⇒ `exact_dup`) and the
    * MinHash LSH band-key set (per-row signature + banding, explode,
    * left join ⇒ any collision = `near_cand`). Both probes are
    * stream-static equi-joins: stateless, planned per micro-batch
    * against the cached static side (the [[enrichStream]] pattern). The
    * per-row signature kernel ([[graft.functions.Dedup.rowMinhashSignature]])
    * keeps the stream side shuffle-free up to the single stateful op —
    * the flag-collapse aggregation, a watermarked tumbling window keyed
    * by doc id, so state is bounded by docs-per-horizon and evicted as
    * the watermark passes. Flags are monotone (max of booleans), which
    * makes the screen REDELIVERY-IDEMPOTENT: an at-least-once source
    * re-dropping a document re-aggregates to the same decision.
    * Emits (idCol, exact_dup, near_cand) in update mode. */
  def ingestScreenStream(newDocs: DataFrame, oldFp: DataFrame,
                         oldBands: DataFrame,
                         idCol: String, textCol: String,
                         watermark: String, windowLen: String,
                         hasher: graft.functions.Dedup.Hasher): DataFrame = {
    import graft.functions.{Dedup, TextFunctions}
    val base = newDocs.select(col(idCol), col(textCol), col("ts"))
    val exactProbe = base
      .withColumn("_fp", TextFunctions.contentFingerprint(col(textCol)))
      .join(oldFp.withColumn("_e", lit(true)), Seq("_fp"), "left_outer")
      .select(col(idCol), col("ts"),
        coalesce(col("_e"), lit(false)).as("_ex"),
        lit(null).cast("boolean").as("_nr"))
    val bandProbe = base
      .withColumn("_sh", TextFunctions.wordShingles(col(textCol), 3))
      .filter(size(col("_sh")) > 0) // batch twin: explode drops these
      .withColumn("_shh", transform(col("_sh"), s => hasher(s)))
      .withColumn("_sig", Dedup.rowMinhashSignature(col("_shh"), 64, hasher))
      .select(col(idCol), col("ts"),
        explode(Dedup.rowBandKeys(col("_sig"), 16, 4, hasher)).as("_bk"))
      .select(col(idCol), col("ts"),
        col("_bk.band").as("band"), col("_bk.band_key").as("band_key"))
      .join(oldBands.withColumn("_h", lit(true)),
        Seq("band", "band_key"), "left_outer")
      .select(col(idCol), col("ts"),
        lit(null).cast("boolean").as("_ex"),
        coalesce(col("_h"), lit(false)).as("_nr"))
    exactProbe.unionByName(bandProbe)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col(idCol))
      .agg(max(col("_ex")).as("exact_dup"), max(col("_nr")).as("_near"))
      .select(col(idCol), col("exact_dup"),
        coalesce(col("_near"), lit(false)).as("near_cand"))
  }

  /** Drain [[ingestScreenStream]] over a parquet drop-zone: documents
    * matching `newPred` stream in (arrival time synthesized
    * deterministically from the id — a landing zone would carry a real
    * ingest timestamp), the rest of the table is the static corpus the
    * CALLER passes. The memory-sink emissions collapse by max — legal
    * because the flags are monotone — and `keep` derives from the final
    * flags, exactly the batch report's rule. */
  def runStreamingIngestScreen(spark: SparkSession, dir: String, glob: String,
                               schema: StructType, corpus: DataFrame,
                               newPred: org.apache.spark.sql.Column,
                               idCol: String, textCol: String,
                               hasher: graft.functions.Dedup.Hasher,
                               watermark: String = "1 hour",
                               windowLen: String = "1 hour",
                               queryName: String = "graft_ingest_screen")
      : DataFrame = {
    val stream = streamRead(spark, dir, glob, schema)
      .filter(newPred)
      .withColumn("ts", expr(s"timestamp_micros($idCol)"))
    val (oldFp, oldBands) = buildCorpusDedupIndex(corpus, idCol, textCol,
      hasher)
    val screened = ingestScreenStream(stream, oldFp, oldBands, idCol,
      textCol, watermark, windowLen, hasher)
    try {
      withStreamingPartitions(spark, 2) {
        val q = screened.writeStream
          .outputMode("update")
          .format("memory")
          .queryName(queryName)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
    } finally {
      // the index must not outlive the drained query (the
      // session-accumulation lesson behind Frames.sealRelease)
      oldFp.unpersist(false); oldBands.unpersist(false)
    }
    spark.table(queryName)
      .groupBy(col(idCol))
      .agg(max(col("exact_dup")).as("exact_dup"),
        max(col("near_cand")).as("near_cand"))
      .withColumn("keep", !col("exact_dup") && !col("near_cand"))
  }

  /** Sessionization (batch): gap-based sessions per user — a capability
    * the reference lacks entirely; standard Spark window pattern. */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    // gap arithmetic in exact integer microseconds (cast-to-long would
    // truncate to seconds and mis-classify sub-second boundary gaps)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            gapMinutes * 60L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).alias("session_start"),
        max(col("ts")).alias("session_end"),
        count(lit(1)).alias("n_events"),
        sum(col("value")).alias("sum_value"))
  }
}
