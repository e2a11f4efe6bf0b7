package graft.sources

import java.sql.DriverManager
import graft.SparkSpec
import graft.sinks.EsControl

/** S1/S11 against an embedded in-memory Derby database (already on the
  * Spark classpath): real JDBC reads, partitioned-read option wiring, and
  * the incremental-gate scalar feeding EsControl.needsRun. */
class JdbcSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftjdbc;create=true"
  private val conn = Jdbc.Conn(url, "", "",
    driver = "org.apache.derby.jdbc.EmbeddedDriver")

  override def beforeAll(): Unit = {
    super.beforeAll()
    val c = DriverManager.getConnection(url)
    val st = c.createStatement()
    st.executeUpdate("CREATE TABLE node_subject (id INT, age INT)")
    (0 until 10).foreach(i =>
      st.executeUpdate(s"INSERT INTO node_subject VALUES ($i, ${20 + i})"))
    st.executeUpdate(
      "CREATE TABLE transaction_logs (id INT, state VARCHAR(20), " +
        "created_datetime TIMESTAMP)")
    st.executeUpdate("INSERT INTO transaction_logs VALUES " +
      "(1, 'SUCCEEDED', TIMESTAMP('2024-01-01 10:00:00'))")
    st.executeUpdate("INSERT INTO transaction_logs VALUES " +
      "(2, 'SUCCEEDED', TIMESTAMP('2024-03-05 08:30:00'))")
    st.executeUpdate("INSERT INTO transaction_logs VALUES " +
      "(3, 'FAILED',    TIMESTAMP('2024-06-01 00:00:00'))") // newer but failed
    c.close()
  }

  test("readTable pulls a node table through JDBC") {
    val df = Jdbc.readTable(spark, conn, "node_subject")
    assert(df.count() === 10L)
    assert(df.columns.map(_.toLowerCase).sorted === Array("age", "id"))
  }

  test("readTablePartitioned splits the range across the requested partitions") {
    val df = Jdbc.readTablePartitioned(spark, conn, "node_subject",
      partitionCol = "id", lower = 0L, upper = 9L, numPartitions = 4)
    assert(df.rdd.getNumPartitions === 4)     // real read parallelism
    assert(df.count() === 10L)                // slices cover the full range
    assert(df.select("id").collect().map(_.getInt(0)).sorted === (0 until 10))
  }

  test("importWorthy excludes transaction/audit tables") {
    assert(Jdbc.importWorthy("node_subject"))
    assert(Jdbc.importWorthy("edge_subjectprojects"))
    assert(!Jdbc.importWorthy("transaction_logs"))
    assert(!Jdbc.importWorthy("transaction_snapshots"))
    assert(!Jdbc.importWorthy("alembic_version"))
  }

  test("latestSucceededTxMillis drives the incremental gate end-to-end") {
    val latest = Jdbc.latestSucceededTxMillis(spark, conn)
    assert(latest.isDefined)
    // the FAILED row is newer but must not count
    val expected = java.sql.Timestamp.valueOf("2024-03-05 08:30:00").getTime
    assert(latest.get === expected)
    // sink older than source → run; sink newer → skip; force always runs
    assert(EsControl.needsRun(latest, Some(expected - 1000)))
    assert(!EsControl.needsRun(latest, Some(expected + 1000)))
    assert(EsControl.needsRun(latest, Some(expected + 1000), force = true))
  }

  test("dumpAll -> RunEtl end-to-end: live database to published index") {
    // fresh schema in the same in-memory database
    val c = DriverManager.getConnection(url)
    val st = c.createStatement()
    st.executeUpdate("CREATE TABLE node_study (node_id VARCHAR(16), name VARCHAR(32))")
    st.executeUpdate("INSERT INTO node_study VALUES ('st1', 'Alpha'), ('st2', 'Beta')")
    st.executeUpdate("CREATE TABLE node_person (node_id VARCHAR(16), age INT)")
    (0 until 6).foreach(i => st.executeUpdate(
      s"INSERT INTO node_person VALUES ('p$i', ${30 + i})"))
    st.executeUpdate("CREATE TABLE edge_personmemberofstudy " +
      "(src_id VARCHAR(16), dst_id VARCHAR(16))")
    (0 until 6).foreach(i => st.executeUpdate(
      s"INSERT INTO edge_personmemberofstudy VALUES ('p$i', 'st${1 + i % 2}')"))
    st.executeUpdate("CREATE TABLE alembic_version (v VARCHAR(8))")
    c.close()

    val base = java.nio.file.Files.createTempDirectory("graft_dump")
    val dumps = base.resolve("graphs").toString
    // age-partitioned read exercises the parallel path on a real table
    val dumped = Jdbc.dumpAll(spark, conn,
      Seq("node_study", "node_person", "edge_personmemberofstudy",
        "alembic_version", "transaction_logs"),
      dumps, partitionCols = Map("node_person" -> "age"), numPartitions = 3)
    assert(dumped.sorted === Seq("edge_personmemberofstudy", "node_person",
      "node_study")) // audit tables filtered out
    assert(spark.read.parquet(s"$dumps/node_person").count() === 6)

    // minimal Gen3 dictionary + mapping pointing at the dumped layout
    val schemaJson =
      """{
        |  "study.yaml": {"id": "study", "category": "administrative",
        |    "properties": {"name": {"type": "string"}}, "links": []},
        |  "person.yaml": {"id": "person", "category": "clinical",
        |    "properties": {"age": {"type": "integer"}},
        |    "links": [{"name": "studies", "backref": "persons",
        |      "label": "member_of", "target_type": "study",
        |      "multiplicity": "many_to_one"}]}
        |}""".stripMargin
    val mappingYaml =
      """mappings:
        |  - name: person_index
        |    doc_type: person
        |    type: aggregator
        |    root: person
        |    props:
        |      - name: age
        |    parent_props:
        |      - path: studies[study_name:name]
        |""".stripMargin
    val schemaPath = base.resolve("schema.json")
    val mappingPath = base.resolve("etlMapping.yaml")
    java.nio.file.Files.write(schemaPath, schemaJson.getBytes("UTF-8"))
    java.nio.file.Files.write(mappingPath, mappingYaml.getBytes("UTF-8"))

    val out = base.resolve("es").toString
    val published = graft.RunEtl.run(spark, schemaPath.toString,
      mappingPath.toString, dumps, out, nowMillis = 1700000000000L)
    assert(published("person_index") === ("person_index_0", 6L))
    val docs = spark.read.parquet(s"$out/person_index_0/docs")
      .collect().map(r => r.getString(r.fieldIndex("_person_id")) ->
        (r.getLong(r.fieldIndex("age")),
          r.getSeq[String](r.fieldIndex("study_name")))).toMap
    assert(docs("p0") === ((30L, Seq("Alpha")))) // p0 -> st1 -> 'Alpha'
    assert(docs.size === 6)
  }

  test("latestSucceededTxMillis is None when nothing succeeded") {
    val c = DriverManager.getConnection(url)
    c.createStatement().executeUpdate(
      "UPDATE transaction_logs SET state = 'FAILED'")
    c.close()
    try {
      assert(Jdbc.latestSucceededTxMillis(spark, conn).isEmpty)
      assert(EsControl.needsRun(None, Some(123L))) // no tx info ⇒ run
    } finally {
      val c2 = DriverManager.getConnection(url)
      c2.createStatement().executeUpdate(
        "UPDATE transaction_logs SET state = 'SUCCEEDED' WHERE id <= 2")
      c2.close()
    }
  }
}
