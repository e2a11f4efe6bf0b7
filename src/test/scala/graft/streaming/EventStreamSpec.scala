package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0) =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  test("sessionize splits on gaps > threshold, keeps sub-gap runs together") {
    val events = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 2.0),          // session 1
      (1L, ts(45), 3.0),                            // 35min gap → session 2
      (2L, ts(5), 5.0))                             // separate user
      .toDF("user_id", "ts", "value")
      .withColumn("event_type", lit("click"))
      .withColumn("event_id", monotonically_increasing_id())
    val s = EventStream.sessionize(events, gapMinutes = 30)
      .collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("session_seq")),
        r.getLong(r.fieldIndex("n_events")))).toSet
    assert(s === Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("sessionize gap boundary: exactly 30min stays, 30min+1us splits") {
    val base = Timestamp.valueOf("2024-01-01 00:00:00")
    val plus30 = Timestamp.valueOf("2024-01-01 00:30:00")
    val plus30u = new Timestamp(plus30.getTime); plus30u.setNanos(1000)
    val events = Seq((1L, base, 1.0), (1L, plus30, 1.0), (2L, base, 1.0),
      (2L, plus30u, 1.0))
      .toDF("user_id", "ts", "value")
    val s = EventStream.sessionize(events, gapMinutes = 30)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(1L) === 1L) // exactly 30min → one session
    assert(s(2L) === 2L) // 30min + 1us → split
  }

  test("windowed agg buckets to tumbling windows (batch) with exact distinct") {
    val events = Seq(
      (1L, ts(5), 1.0), (2L, ts(25), 2.0),          // hour 0 window? min 5/25 → same hour
      (1L, ts(59, 59), 3.0))
      .toDF("user_id", "ts", "value")
      .withColumn("event_type", lit("click"))
    val r = EventStream.windowedAgg(events, "1 hour", exactDistinct = true)
      .collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_events") === 3L)
    assert(r(0).getAs[Long]("n_users") === 2L)
  }

  test("streaming path: file-source drain equals batch result") {
    val dir = java.nio.file.Files.createTempDirectory("evstream")
    val events = Seq(
      (1L, ts(1), 1.0, "click"), (2L, ts(20), 2.0, "view"),
      (3L, ts(40), 3.0, "click"))
      .toDF("user_id", "ts", "value", "event_type")
    events.write.mode("overwrite").parquet(dir.toString + "/events.parquet")
    val out = EventStream.runStreaming(spark, dir.toString + "/events.parquet",
      "*.parquet", events.schema, "30 minutes", "1 hour",
      queryName = "graft_stream_spec")
    // the drain sums as exact decimal (order-free, batch-comparable) —
    // compare against the same-mode batch aggregation
    val batch = EventStream.windowedAgg(events, "30 minutes",
      decimalSum = true)
    assert(out.orderBy("window_start", "event_type").collect().toSeq ===
      batch.orderBy("window_start", "event_type").collect().toSeq)
  }

  test("stateful streaming sessions match batch session counts") {
    val dir = java.nio.file.Files.createTempDirectory("evstate")
    val events = Seq(
      (1L, ts(0), 1.0, "click"), (1L, ts(10), 1.0, "click"),
      (1L, ts(50), 1.0, "click"),                       // gap 40m → 2 sessions
      (2L, ts(5), 1.0, "view"))
      .toDF("user_id", "ts", "value", "event_type")
    events.write.mode("overwrite").parquet(dir.toString + "/events.parquet")
    val out = EventStream.runStatefulSessions(spark, dir.toString + "/events.parquet",
      "*.parquet", events.schema, gapMinutes = 30, queryName = "graft_sess_spec")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((2L, 3L)))
    assert(out(2L) === ((1L, 1L)))
  }

  test("streaming dedup drops redeliveries by key, keeps one row per id") {
    val dir = java.nio.file.Files.createTempDirectory("evdedup")
    // two appended drop batches share event 10 (at-least-once redelivery)
    Seq((10L, ts(1), 1L, "click", 1.0), (11L, ts(2), 1L, "view", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(dir.toString + "/drop")
    Seq((10L, ts(1), 1L, "click", 1.0), (12L, ts(3), 2L, "click", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(dir.toString + "/drop")
    val schema = spark.read.parquet(dir.toString + "/drop").schema
    val out = EventStream.runStreamingDedup(spark, dir.toString + "/drop",
      "*.parquet", schema, "1 hour", Seq("event_id"),
      queryName = "graft_dedup_spec")
    val ids = out.select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(10L, 11L, 12L))
  }

  test("stream-stream interval join: pairs within the window exactly once, " +
      "boundary inclusive, outside window and wrong order excluded") {
    val dir = java.nio.file.Files.createTempDirectory("evattrib")
    Seq(
      (1L, ts(0), 1L, "click", 1.0),
      (2L, ts(10), 1L, "purchase", 5.0),   // within 30 min of click 1
      (3L, ts(30), 1L, "purchase", 5.0),   // exactly at the boundary → in
      (4L, ts(45), 1L, "purchase", 5.0),   // past the window → out
      (5L, ts(20), 2L, "purchase", 5.0),   // other user → out
      (6L, ts(25), 1L, "click", 1.0),      // second click: pairs with 3
      (7L, ts(24), 1L, "purchase", 5.0))   // BEFORE click 6, after click 1
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(dir.toString + "/drop")
    val schema = spark.read.parquet(dir.toString + "/drop").schema
    val pairs = EventStream.runStreamingIntervalJoin(spark,
        dir.toString + "/drop", "*.parquet", schema, "click", "purchase",
        withinMinutes = 30, watermark = "1 hour",
        queryName = "graft_attrib_spec")
      .collect().map(r => (r.getAs[Long]("from_id"), r.getAs[Long]("to_id")))
      .toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (1L, 7L), (6L, 3L), (6L, 4L)))
  }

  test("streaming ingest screen: exact and near dups flagged against the " +
      "static corpus, redelivered drops collapse to one idempotent " +
      "decision per doc, output equals the batch report") {
    import graft.functions.Dedup
    val dir = java.nio.file.Files.createTempDirectory("evingest")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated corpus text about spark engines"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // exact
      (11L, "the quick brown fox jumps over the lazy dog today"),   // near
      (12L, "entirely novel document with its own words only here"))
      .toDF("doc_id", "text")
    // at-least-once: the SAME new docs land twice (two drop files)
    fresh.write.parquet(dir.toString + "/drop")
    fresh.write.mode("append").parquet(dir.toString + "/drop")
    val schema = spark.read.parquet(dir.toString + "/drop").schema
    val out = EventStream.runStreamingIngestScreen(spark,
      dir.toString + "/drop", "*.parquet", schema, corpus,
      lit(true), "doc_id", "text",
      queryName = "graft_ingest_spec")
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("near_cand"),
        r.getAs[Boolean]("keep")))).toMap
    assert(rows.size === 3) // one decision per doc despite redelivery
    assert(rows(10L)._1 && !rows(10L)._3)        // exact dup, dropped
    assert(rows(11L)._2 && !rows(11L)._3)        // near candidate, dropped
    assert(rows(12L) === ((false, false, true))) // novel, kept
    // parity: the batch report over the same split agrees flag-for-flag
    val batch = Dedup.ingestDedupReport(corpus, fresh, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("near_cand"),
          r.getAs[Boolean]("keep")))).toMap
    assert(rows === batch)
  }

  test("checkpointed restart: a resumed query reads only NEW drop files " +
      "and the dedup state survives the restart (redelivered key still " +
      "dropped) — the exactly-once operations story") {
    val dir = java.nio.file.Files.createTempDirectory("evcp")
    val cp = java.nio.file.Files.createTempDirectory("evcp_state").toString
    def drop(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("append").parquet(dir.toString + "/drop")
    val out = dir.toString + "/out"
    drop(Seq((1L, ts(1), 1L, "click", 1.0), (2L, ts(2), 1L, "view", 2.0)))
    val schema = spark.read.parquet(dir.toString + "/drop").schema
    // a DURABLE sink: the memory sink refuses checkpoint recovery, and
    // the parquet sink's file log is what gives end-to-end exactly-once
    def run(): Unit = {
      val stream = EventStream.readDropZone(spark, dir.toString + "/drop",
        "*.parquet", schema)
      val q = EventStream.dedupStream(stream, "1 hour", Seq("event_id"))
        .writeStream.option("checkpointLocation", cp)
        .outputMode("append").format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val first = spark.read.parquet(out)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(first === Seq(1L, 2L))
    // second drop: event 2 redelivered, event 3 new; RESTART from the
    // same checkpoint
    drop(Seq((2L, ts(2), 1L, "view", 2.0), (3L, ts(3), 2L, "click", 3.0)))
    run()
    val resumed = spark.read.parquet(out)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    // exactly-once across the restart: 1/2 not re-read (offset log),
    // redelivered 2 dropped by RESTORED dedup state, only 3 appended
    assert(resumed === Seq(1L, 2L, 3L))
  }

  test("drop-zone glob naming a table DIRECTORY streams its part files " +
      "(pathGlobFilter matches leaf names only — a dataset directory " +
      "named like the glob used to stream silently empty)") {
    val dir = java.nio.file.Files.createTempDirectory("evdirshape")
    val corpus = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "totally different new words here"))
      .toDF("doc_id", "text")
    // table-directory shape: dir/docs.parquet is a DIRECTORY of parts
    fresh.repartition(3).write.parquet(dir.toString + "/docs.parquet")
    val schema = spark.read.parquet(dir.toString + "/docs.parquet").schema
    val out = EventStream.runStreamingIngestScreen(spark,
      dir.toString, "docs.parquet", schema, corpus,
      lit(true), "doc_id", "text",
      queryName = "graft_dirshape_spec")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("exact_dup")).toMap
    assert(out === Map(10L -> true, 11L -> false))
  }

  test("stream-static enrichment: every event flows exactly once, dim " +
      "attributes attach, missing dim rows leave nulls") {
    val dir = java.nio.file.Files.createTempDirectory("evenrich")
    Seq((1L, ts(1), 10L, "click", 1.0), (2L, ts(2), 11L, "view", 2.0),
      (3L, ts(3), 99L, "click", 3.0)) // user 99 has no dim row
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(dir.toString + "/drop")
    val schema = spark.read.parquet(dir.toString + "/drop").schema
    val dim = Seq((10L, "BUILDING"), (11L, "MACHINERY"))
      .toDF("user_id", "segment")
    val out = EventStream.runStreamingEnrich(spark, dir.toString + "/drop",
      "*.parquet", schema, dim, Seq("user_id"),
      queryName = "graft_enrich_spec")
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[String]("segment"))).toMap
    assert(out.size === 3)
    assert(out(1L) === Some("BUILDING"))
    assert(out(2L) === Some("MACHINERY"))
    assert(out(3L) === None)
  }
}
