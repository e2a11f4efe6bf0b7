package graft.sinks

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end index lifecycle against the filesystem-backed ES: publish
  * twice, verify versioning + alias flip + retention + mapping + array
  * config + the incremental-run gate — the S9–S12 story with real
  * DataFrames, no cluster. */
class FsEsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    ("c1", "Alice", Seq("a", "b")),
    ("c2", "Bob", Seq("c")))
    .toDF("_customer_id", "name", "tags")

  test("publish cycle: version, load, flip, retain, array-config, timestamp") {
    val root: Path = Files.createTempDirectory("fses")
    val es = new FsEsClient(root)

    val v0 = EsPublisher.publish(es, "customer", docs, "customer",
      nowMillis = 1000L)
    assert(v0 === "customer_0")
    assert(es.aliasTargets("customer") === Seq("customer_0"))

    // documents round-trip through the versioned index directory
    val loaded = spark.read.parquet(root.resolve("customer_0/docs").toString)
    assert(loaded.count() === 2)
    assert(loaded.columns.sorted === Array("_customer_id", "name", "tags"))

    // generated mapping landed next to the documents
    val mapping = new String(
      Files.readAllBytes(root.resolve("customer_0/_mapping.json")), "UTF-8")
    assert(mapping.contains(""""name":{"type":"keyword""""))

    // S12: array-config side doc lists the array-typed field
    val cfg = new String(
      Files.readAllBytes(root.resolve("customer-array-config/config.json")),
      "UTF-8")
    assert(cfg.contains(""""array":["tags"]"""))

    // S11: the timestamp alias gates re-runs
    assert(es.timestamp("customer") === Some(1000L))
    assert(!EsControl.needsRun(Some(900L), es.timestamp("customer")))
    assert(EsControl.needsRun(Some(2000L), es.timestamp("customer")))

    // second publish: next version, alias flips, old version retained once
    val v1 = EsPublisher.publish(es, "customer",
      docs.withColumn("extra", lit(1L)), "customer", nowMillis = 3000L)
    assert(v1 === "customer_1")
    assert(es.aliasTargets("customer") === Seq("customer_1"))
    assert(es.indices().contains("customer_0")) // rollback copy kept
    assert(es.timestamp("customer") === Some(3000L))

    // third publish: customer_0 falls off retention (keep = 1)
    EsPublisher.publish(es, "customer", docs, "customer", nowMillis = 4000L)
    assert(!es.indices().contains("customer_0"))
    assert(es.indices().contains("customer_1"))
  }

  test("backup/restore round-trip: publish v1 → publish v2 with backup → restore v1") {
    val root: Path = Files.createTempDirectory("fses-bk")
    val es = new FsEsClient(root)

    // v1: two documents
    val v0 = EsPublisher.publish(es, "subject", docs, "subject", 1000L)
    assert(v0 === "subject_0")

    // v2 with backup, as `RunEtl.run --backup` publishes: back up the
    // outgoing live index, then a (bad) publish that drops a document
    val bk = EsControl.backup(es, "subject")
    val (v1, _) = EsPublisher.publishCounted(es, "subject",
      docs.limit(1), "subject", nowMillis = 2000L)
    assert(bk === Some("0_subject"))
    assert(v1 === "subject_1")
    assert(es.aliasTargets("subject") === Seq("subject_1"))
    assert(es.aliasTargets("subject_backup") === Seq("0_subject"))
    // the backup carries the FULL v1 document set and its mapping
    assert(spark.read.parquet(root.resolve("0_subject/docs").toString)
      .count() === 2)
    assert(Files.exists(root.resolve("0_subject/_mapping.json")))
    // the live index reflects the bad publish
    assert(spark.read.parquet(root.resolve("subject_1/docs").toString)
      .count() === 1)

    // rollback: restore publishes the backup as a NEW forward version
    val restored = EsControl.restore(es, "subject")
    assert(restored === Some("subject_2"))
    assert(es.aliasTargets("subject") === Seq("subject_2"))
    val back = spark.read.parquet(root.resolve("subject_2/docs").toString)
    assert(back.count() === 2)
    assert(back.select("_customer_id").as[String].collect().sorted ===
      Array("c1", "c2"))
    // restored mapping is the v1 mapping, not the create-time stub
    val m = new String(
      Files.readAllBytes(root.resolve("subject_2/_mapping.json")), "UTF-8")
    assert(m.contains(""""name":{"type":"keyword""""))
    // fix-forward after a rollback never collides: next publish is v3
    val v3 = EsPublisher.publish(es, "subject", docs, "subject", 3000L)
    assert(v3 === "subject_3")
  }

  test("publishCounted returns the exact row count from the part-file " +
      "footers, for a multi-partition frame and for an empty one") {
    val es = new FsEsClient(Files.createTempDirectory("fses-count"))
    val many = spark.range(0, 1003, 1, 7)
      .select(col("id").cast("string").as("_x_id"), (col("id") % 5).as("k"))
    val (idx, n) = EsPublisher.publishCounted(es, "x", many, "x", 1000L)
    assert(n === 1003L)
    val parts = Files.list(es.root.resolve(idx).resolve("docs")).toArray
      .map(_.toString).filter(_.endsWith(".parquet"))
    assert(parts.length > 1)
    val (_, none) = EsPublisher.publishCounted(es, "x",
      many.filter(lit(false)), "x", 2000L)
    assert(none === 0L)
  }

  test("publishCounted runs one query execution, the write: the count " +
      "reads no parquet back") {
    val root = Files.createTempDirectory("fses-jobs")
    val es = new FsEsClient(root)
    var n = 0L
    // only this index's executions: plans name their output or input path
    val plans = capturePlans {
      n = EsPublisher.publishCounted(es, "y", docs, "y", 1000L)._2
    }.filter(_.contains(root.toString))
    assert(n === 2L)
    assert(plans.length === 1, plans)
    assert(plans.head.contains("InsertIntoHadoopFsRelationCommand"))
  }
}
